"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — exact brute-force cosine top-k: the correctness
  baseline. Queries (small) are broadcast against the vector table
  (huge); top-k is two-phase (per-partition local top-k, then a tiny
  global re-rank) so no single task ever sorts a whole query's scores.
- :func:`lsh_topk` — random-hyperplane LSH: vectors bucketed by the sign
  pattern of ``n_planes`` Rademacher (±1) projections; candidates are
  bucket-mates only; exact cosine re-rank within the bucket. The 100 TB
  path — per-bucket work is bounded, one shuffle on the bucket key.
- the rest of the ANN family (:func:`ivf_topk`, :func:`sq_topk`,
  :func:`ivf_sq_topk`, :func:`pq_topk`, :func:`ivf_pq_topk`,
  :func:`ivf_pq_res_topk`) — like the two above, short specs over one
  search pipeline of coarse × code × exact re-rank stages (see "ANN
  search pipeline" below); :func:`recall_probe` composes the same
  stages, and :class:`IvfIndex` / :class:`IvfPqIndex` share one
  persistent-index lifecycle.
- :func:`embedding_near_dup` — near-duplicate pairs by cosine ≥
  threshold, LSH-blocked (pairs generated within buckets only).

Cross-engine determinism: all arithmetic is double-precision with
left-to-right summation (Spark ``aggregate`` fold ≡ DuckDB ``list_sum``
— verified bit-identical on this data), and the hyperplane constants are
±1 integers inlined into both the Spark plan and the oracle SQL, so the
``oracle_*_sql`` builders reproduce the exact algorithm including the
bucketing.

The reference repo has no similarity search; this tier is the
BASELINE.json LLM-data-pipeline requirement.
"""

from __future__ import annotations

import functools
import math
import os
import random
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from streamtasks_spark.core.state import (
    Staging,
    commit_segments,
    new_segment,
    read_manifest,
    replace_write,
)
from streamtasks_spark.llmdata.dedup import (
    StagedIndex,
    bounded_collect,
    compact_table,
    pin,
    run_build_steps,
    snapshot_read,
    spread,
)


# Driver-local training gate: corpora at or under this many surviving
# (finite-positive-norm) vectors are pulled once (`limit(bound+1)` —
# driver-safe whatever the true corpus size, the bounded_collect
# discipline) and the k-means / PQ training loops run in-process,
# replacing n_iters distributed assignment+groupBy rounds (2 Spark jobs
# each, plus per-round codegen of the literal-codebook argmax
# expression) with ZERO extra jobs. Same size-gated fast path
# as bpe._BPE_MAX_LOCAL_VOCAB and dedup.connected_components'
# max_local_edges: above the gate the distributed loops run unchanged,
# so 100 TB corpora keep training distributed. The local twins are
# bit-identical by construction (exact integer micro-unit sums, IEEE
# left-to-right folds equal to the JVM's, struct-comparator tie-breaks
# reproduced) and pinned by tests/test_ann_local_train.py both-paths
# sweeps. 65,536 vectors × dim 64 doubles ≈ 32 MB of driver state.
_ANN_MAX_LOCAL_TRAIN = 65536


def hyperplanes(dim: int, n_planes: int, seed: int = 0xA11CE) -> list[list[int]]:
    """Deterministic Rademacher hyperplanes: entries ±1. Exactly
    representable in double, so both engines compute identical
    projections."""
    rng = random.Random(seed * 1_000_003 + dim * 101 + n_planes)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(n_planes)]


def _dot(a: str, b: str) -> str:
    """Spark SQL double dot product, left-to-right fold."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def _cos(a: str, b: str, na: str, nb: str):
    """Cosine of vector columns ``a``/``b`` given their norms."""
    return F.expr(_dot(a, b)) / (F.col(na) * F.col(nb))


def _with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Attach the double-cast vector and its L2 norm, DROPPING vectors
    whose norm is not FINITE-POSITIVE — zero-norm, NULL, and NaN/±Inf
    components: a zero vector has no direction, ANSI cosine division
    would raise DIVIDE_BY_ZERO, and a NaN/Inf vector both carries no
    usable direction and POISONS k-means centroid sums — the trained
    codebook then inlines ``nan`` into the argmax literal, which Spark
    parses as an unresolvable column (`nanD`), killing the query. The
    exclusion is mirrored by the ``_duck_norm_pred`` predicate in every
    DuckDB oracle. The ``< inf`` comparison also rejects NaN in BOTH
    engines (each treats NaN as greater than every value)."""
    v = f"cast({vec_col} as array<double>)"
    return (
        df.withColumn("__v", F.expr(v))
        .withColumn("__nrm", F.expr(f"sqrt({_dot('__v', '__v')})"))
        .filter(
            (F.col("__nrm") > 0)
            & (F.col("__nrm") < F.lit(float("inf")))
        )
    )


def _duck_norm_pred(v: str, dim: int) -> str:
    """DuckDB twin of :func:`_with_norm`'s gate: finite-positive
    self-dot, plus an explicit no-NULL-ELEMENT condition — DuckDB's
    ``list_sum`` SKIPS NULL products where Spark's ``aggregate`` fold
    propagates NULL, so a vector like ``[NULL, 0.5, ...]`` would gate
    IN here while Spark drops it (the len filter makes both engines
    reject zero, NULL, NaN, ±Inf, and NULL-element vectors
    identically)."""
    d = _duck_dot(v, v, dim)
    return (
        f"({d} > 0 AND {d} < 'inf'::DOUBLE"
        f" AND len(list_filter({v}, x -> x IS NULL)) = 0)"
    )


def guard_dim(df: DataFrame, vec_col: str, dim: int, op: str) -> DataFrame:
    """Fail LOUDLY on any vector whose length differs from the
    configured ``dim``. Hyperplanes and trained codebooks are a
    function of dim — and every ``oracle_*_sql`` hardcodes it — so a
    mismatch does not error on its own, it silently degrades: with
    SHORTER data Spark's zip_with NULL-extends (plane dots go NULL,
    every bucket collapses to 0) while DuckDB NULL-skips; with LONGER
    data the oracle's ``range(1, dim+1)`` dot silently truncates to
    the first dim coords while the data-derived Spark ops use the full
    vector. Found by the ``--dim`` fuzz axis: 15 silent divergences at
    dim 3 and one more (ann_ivf_topk's oracle) at dim 512. The guard
    is one JVM case expression per row — no shuffle, no job,
    negligible at 100 TB. Data-derived ops (cosine_topk, ivf_topk) are
    dim-agnostic and stay unguarded; callers coupling them to a
    fixed-dim oracle apply this guard at the call site. NULL vectors
    pass through untouched: they are legitimate input that
    ``_with_norm`` drops downstream (mirrored by the oracles'
    ``dot(v,v) > 0`` predicate), and without the explicit pass-through
    ``F.size(NULL)`` is NULL so the when-condition would misroute them
    into ``raise_error``."""
    return df.withColumn(
        vec_col,
        F.when(
            F.col(vec_col).isNull() | (F.size(vec_col) == dim),
            F.col(vec_col),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{op}: embedding of dim "),
                    F.size(vec_col).cast("string"),
                    F.lit(
                        f" != configured dim {dim}; planes/codebooks are"
                        " a function of dim — pass the data's real"
                        " dimensionality instead of silently degrading"
                    ),
                )
            )
        ),
    )


def _require_dim(df: DataFrame, dim: int, op: str) -> DataFrame:
    return guard_dim(df, "__v", dim, op)


def _corpus_norm(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The corpus-side (id, __v, __nrm) projection every ANN tier
    builds. A PRE-NORMALIZED base — ``__v``/``__nrm`` already present,
    e.g. a caller's pinned scan shared across tiers — is reused as-is,
    removing one parquet scan + spread Exchange + normalize subtree
    per consumer; a raw corpus takes the usual spread +
    :func:`_with_norm` path. Values are identical either way (the base
    IS that same expression, computed once), so downstream plans differ
    only in sharing."""
    if "__v" in vectors.columns and "__nrm" in vectors.columns:
        return vectors.select(id_col, "__v", "__nrm")
    return _with_norm(
        spread(vectors, id_col).select(id_col, vec_col), vec_col
    ).select(id_col, "__v", "__nrm")


def _query_norm(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The query side every ANN search starts from: ``query_id`` plus
    :func:`_with_norm`'s ``__v``/``__nrm``."""
    return _with_norm(
        queries.select(F.col(id_col).alias("query_id"), vec_col), vec_col
    )


def _seed_cells(
    vectors: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> DataFrame:
    """Default deterministic coarse codebook (``__cell, __cv, __cn``
    from the ``n_cells`` lowest-id vectors), with the same
    pre-normalized-base reuse as :func:`_corpus_norm`. Filtering the
    already-normalized base commutes with normalization (both are
    row-local), so the seeded codebook is bit-identical either way."""
    if "__v" in vectors.columns and "__nrm" in vectors.columns:
        src = vectors.filter(F.col(id_col) < n_cells)
    else:
        src = _with_norm(
            vectors.filter(F.col(id_col) < n_cells).select(id_col, vec_col),
            vec_col,
        )
    return src.select(
        F.col(id_col).alias("__cell"),
        F.col("__v").alias("__cv"),
        F.col("__nrm").alias("__cn"),
    )


def _cell_assign(
    df: DataFrame,
    cents: DataFrame,
    id_out: str,
    rank_limit: int,
    *,
    keep_centroid: bool = False,
) -> DataFrame:
    """The coarse cell-assignment kernel — of the ivf stage and of the
    persistent indexes alike: crossJoin the (caller-broadcast)
    codebook ``cents`` (``__cell, __cv, __cn``) and keep each
    ``id_out``'s ``rank_limit`` best cells by cosine, ties to the
    lowest cell. ``keep_centroid`` carries ``__cv``/``__cn`` through
    for the residual code."""
    w = Window.partitionBy(id_out).orderBy(
        F.col("__score").desc(), F.col("__cell").asc()
    )
    out = (
        df.crossJoin(cents)
        .withColumn("__score", _cos("__v", "__cv", "__nrm", "__cn"))
        .withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= rank_limit)
    )
    if keep_centroid:
        return out.drop("__score", "__cr")
    return out.drop("__cv", "__cn", "__score", "__cr")


def _bucket_expr(planes: list[list[int]]) -> str:
    """Spark SQL bucket id: bit p = (plane_p · v) > 0."""
    bits = []
    for p, plane in enumerate(planes):
        arr = f"array({', '.join(f'{s}D' for s in plane)})"
        bits.append(f"(case when {_dot('__v', arr)} > 0 then {1 << p} else 0 end)")
    return " + ".join(bits)


def _duck_dot(a: str, b: str, dim: int) -> str:
    return f"list_sum(list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i]))"


def _duck_bucket(planes: list[list[int]], v: str, dim: int) -> str:
    bits = []
    for p, plane in enumerate(planes):
        arr = f"([{', '.join(f'{s}.0' for s in plane)}]::DOUBLE[])"
        bits.append(
            f"(case when {_duck_dot(v, arr, dim)} > 0 then {1 << p} else 0 end)"
        )
    return " + ".join(bits)


# --------------------------------------------------- ANN search pipeline
#
# Every one-shot top-k tier is a composition of three stages — the
# Faiss index-factory decomposition (``IVF8,PQ8`` = an ivf coarse
# quantizer × pq codes × exact re-rank; Jégou, Douze & Schmid, TPAMI
# 2011):
#
# - coarse: which (corpus, query) pairs meet. ``none`` is the broadcast
#   crossJoin, ranked two-phase (per partition, then global); ``lsh``
#   joins on the hyperplane bucket (:func:`_lsh`); ``ivf`` joins on the
#   cell (:func:`_ivf`).
# - code (:class:`_Code`): what a pair is scored by. ``raw`` scores by
#   exact cosine, which is the answer; ``sq`` by int8 codes
#   (:func:`_sq_code`); ``pq`` / ``pq_res`` by the integer ADC sum
#   (:func:`_pq_code`).
# - rerank: the ``rerank·k`` best pairs by code re-rank by exact cosine
#   (:func:`_rerank`); the raw code has none.
#
# :func:`recall_probe` and the persistent indexes compose the same
# stages over shared inputs.


class _Code(NamedTuple):
    """A code stage. ``corpus(a, id_col, key)`` / ``query(q, key)``
    project each side to the columns its pair score reads, keeping the
    coarse join ``key``; ``score`` lists the (column, expression) pairs
    attached to every joined pair, the last one ranking candidates;
    ``approx`` is the reported approximate score and ``rerank`` the
    candidate budget multiplier — both None for the raw code, whose
    score is the exact cosine."""

    corpus: Callable[[DataFrame, str, str | None], DataFrame]
    query: Callable[[DataFrame, str | None], DataFrame]
    score: list[tuple[str, Column]]
    approx: Column | None = None
    rerank: int | None = None


def _keys(key: str | None) -> list[str]:
    return [] if key is None else [key]


def _raw_code() -> _Code:
    return _Code(
        # an uncoarsened corpus base is already (id, __v, __nrm)
        lambda a, idc, key: (
            a if key is None else a.select(idc, "__v", "__nrm", key)
        ),
        lambda q, key: q.select(
            "query_id",
            F.col("__v").alias("__qv"),
            F.col("__nrm").alias("__qn"),
            *_keys(key),
        ),
        [("__cos", _cos("__v", "__qv", "__nrm", "__qn"))],
    )


def _sq_code(rerank: int) -> _Code:
    """The int8 scalar-quantization code (:func:`_sq_encode` on both
    sides): pairs score by the quantized cosine
    ``(s_a·s_q·Σ qa_i·qq_i) / (‖a‖·‖q‖)``, whose inner sum is exact
    int64."""
    appx = (
        (F.col("__as2") * F.col("__qs2"))
        * F.expr(_int_dot("__ac", "__qc")).cast("double")
    ) / (F.col("__anrm") * F.col("__qnrm"))
    return _Code(
        lambda a, idc, key: _sq_encode(a, "__a", [idc, *_keys(key)]),
        lambda q, key: _sq_encode(q, "__q", ["query_id", *_keys(key)]),
        [("__appx", appx)],
        F.col("__appx"),
        rerank,
    )


def _lsh(
    a: DataFrame, q: DataFrame, dim: int, n_planes: int
) -> tuple[DataFrame, DataFrame]:
    """The lsh coarse stage: both sides keyed by their ``__bkt``."""
    bucket = F.expr(_bucket_expr(hyperplanes(dim, n_planes)))
    return a.withColumn("__bkt", bucket), q.withColumn("__bkt", bucket)


def _ivf(
    a: DataFrame,
    q: DataFrame,
    cents: DataFrame,
    id_col: str,
    n_probe: int,
    *,
    carry: tuple[str, ...] = (),
    keep_centroid: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The ivf coarse stage: every corpus vector to its nearest cell of
    the broadcast codebook ``cents``, every query to its ``n_probe``
    nearest — the query side first narrowed to ``__v``/``__nrm`` plus
    the ``carry`` columns its code reads. Centroids are broadcast
    (bounded by n_cells, like any trained codebook) and the pair join
    shuffles once on the cell id, per-cell work bounded by cell size ×
    queries probing the cell."""
    cents = broadcast(cents)
    return (
        _cell_assign(a, cents, id_col, 1, keep_centroid=keep_centroid),
        _cell_assign(
            q.select("query_id", "__v", "__nrm", *carry), cents,
            "query_id", n_probe, keep_centroid=keep_centroid,
        ),
    )


def _topk(
    scored: DataFrame,
    score: str,
    id_col: str,
    limit: int,
    out: str,
    *,
    two_phase: bool,
    distinct: bool = False,
) -> DataFrame:
    """Rank each query's pairs by (``score`` desc, id asc) into ``out``
    and keep the best ``limit``. ``two_phase`` (the uncoarsened
    crossJoin) first keeps ``limit`` per (query, partition), so no
    task sorts a query's whole score list and the global stage holds
    ``n_queries × limit × n_partitions`` rows. ``distinct`` ranks
    distinct ids only: value-identical rows (a persistent index after
    a replayed ingest) tie and share a rank."""
    order = (F.col(score).desc(), F.col(id_col).asc())
    if two_phase:
        scored = (
            scored.withColumn("__pid", F.spark_partition_id())
            .withColumn(
                "__r",
                F.row_number().over(
                    Window.partitionBy("query_id", "__pid").orderBy(*order)
                ),
            )
            .filter(F.col("__r") <= limit)
        )
    rank = F.dense_rank() if distinct else F.row_number()
    return scored.withColumn(
        out, rank.over(Window.partitionBy("query_id").orderBy(*order))
    ).filter(F.col(out) <= limit)


def _candidates(
    a: DataFrame,
    q: DataFrame,
    code: _Code,
    id_col: str,
    key: str | None,
    limit: int,
    out: str,
    *,
    distinct: bool = False,
) -> DataFrame:
    """Pair the encoded sides on the coarse ``key`` (a crossJoin
    without one), drop self-pairs, score them with ``code`` and keep
    each query's best ``limit`` (:func:`_topk`). The query side is
    broadcast — the probe batch is broadcast-sized by the tier
    contract (n_queries · n_probe rows under ivf); without the hint
    the initial plan sort-merge-joins, shuffling the whole corpus by
    the key before AQE can convert, and at fleet scale the vector
    table must never be the build side."""
    pairs = (
        a.crossJoin(broadcast(q)) if key is None
        else a.join(broadcast(q), key)
    )
    scored = pairs.filter(F.col(id_col) != F.col("query_id"))
    for name, col in code.score:
        scored = scored.withColumn(name, col)
    return _topk(
        scored, code.score[-1][0], id_col, limit, out,
        two_phase=key is None, distinct=distinct,
    )


def _rerank(cand: DataFrame, id_col: str, k: int, approx) -> DataFrame:
    """The exact re-rank tail: each query's candidates (``__av``/
    ``__anrm`` against ``__qv``/``__qnrm``) ranked by exact cosine
    desc, id asc; output (query_id, id, cosine, approx, rank). The
    exact float dot runs only on the candidates, never on all pairs."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("__cos", _cos("__av", "__qv", "__anrm", "__qnrm"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col),
            F.round("__cos", 6).alias("cosine"),
            F.round(approx, 6).alias("approx"),
            "rank",
        )
    )


def _search(
    a: DataFrame,
    q: DataFrame,
    code: _Code | None,
    *,
    id_col: str,
    k: int,
    key: str | None = None,
    distinct: bool = False,
) -> DataFrame:
    """One ANN search over coarse-staged sides ``a``/``q`` (joined on
    ``key``): encode both with ``code``, score the pairs and return
    the top-k — directly for the raw code, else the exact re-rank of
    the ``rerank·k`` best by code. A None code (training saw no
    vectors: an empty corpus) yields the schema-stable empty result.
    ``distinct`` (raw code only) ranks distinct ids only."""
    if code is None:
        return _empty_pq_result(a, q, id_col)
    a, q = code.corpus(a, id_col, key), code.query(q, key)
    if code.rerank is not None:
        return _rerank(
            _candidates(a, q, code, id_col, key, code.rerank * k, "__cr"),
            id_col, k, code.approx,
        )
    top = _candidates(a, q, code, id_col, key, k, "rank", distinct=distinct)
    if distinct:
        top = top.dropDuplicates(["query_id", id_col])
    return top.select(
        "query_id", F.col(id_col), F.round("__cos", 6).alias("cosine"), "rank"
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of ``vectors`` for each row of ``queries``.
    Output: (query_id, vec_id, cosine, rank), rank 1..k by (cosine desc,
    vec_id asc); the query vector itself is excluded.

    Coarse ``none`` × code ``raw``. Scale: broadcast the (small) query
    side; score distributed over the vector table's partitions;
    two-phase top-k keeps the global stage at
    ``n_queries × k × n_partitions`` rows."""
    return _search(
        _corpus_norm(vectors, id_col, vec_col),
        _query_norm(queries, id_col, vec_col),
        _raw_code(), id_col=id_col, k=k,
    )


def oracle_cosine_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
) -> str:
    dot = _duck_dot("a.__v", "q.__v", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    q AS (SELECT * FROM n WHERE {query_filter}),
    scored AS (
      SELECT q.{id_col} AS query_id, a.{id_col} AS {id_col},
             {dot} / (a.__nrm * q.__nrm) AS __cos
      FROM n a, q WHERE a.{id_col} <> q.{id_col}
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           CAST(row_number() OVER w AS INT) AS rank
    FROM scored
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def _int_dot(a: str, b: str) -> str:
    """Spark SQL INTEGER dot product over int code arrays — exact
    int64 arithmetic, order-independent, bit-identical cross-engine."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as bigint) * y), "
        f"0L, (acc, v) -> acc + v)"
    )


def _sq_encode(df: DataFrame, pfx: str, keys: list[str]) -> DataFrame:
    """Attach int8 scalar-quantization codes to a ``_with_norm`` frame:
    per-vector scale ``s = max|v_i| / 127`` and half-up codes
    ``floor(v_i / s + 0.5)`` (round-half-up in BOTH engines, unlike
    banker's round()); output columns prefixed so two encoded sides
    join without collision. Shared by :func:`sq_topk` (brute quantized
    scan) and :func:`ivf_sq_topk` (cell-pruned quantized scan)."""
    enc = "transform(__v, x -> cast(floor(x / __s + 0.5d) as bigint))"
    keep = [c for c in keys if c not in ("__v", "__nrm")]
    return (
        df.withColumn(
            "__s",
            F.expr("array_max(transform(__v, x -> abs(x))) / 127.0d"),
        )
        .withColumn("__c", F.expr(enc))
        .select(
            *keep,
            F.col("__v").alias(f"{pfx}v"),
            F.col("__nrm").alias(f"{pfx}nrm"),
            F.col("__s").alias(f"{pfx}s2"),
            F.col("__c").alias(f"{pfx}c"),
        )
    )


def sq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via int8 SCALAR QUANTIZATION with exact
    re-rank — the memory-bandwidth tier of the ANN family (Faiss's
    ``SQ8`` / Milvus ``IVF_SQ8`` storage idea), coarse ``none`` × code
    ``sq``: each vector is encoded as ``round(v_i / s)`` with per-vector
    scale ``s = max|v_i| / 127`` — int8 codes, 4× smaller than float32,
    8× smaller than float64 — and candidates are ranked by the
    QUANTIZED cosine ``(s_a·s_q·Σ qa_i·qq_i) / (‖a‖·‖q‖)``, whose inner
    sum is pure int64 arithmetic. The top ``rerank·k`` candidates per
    query are then re-ranked by exact cosine; output (query_id,
    vec_id, cosine, approx, rank) with rank 1..k by (exact cosine desc,
    id asc) and ``approx`` the quantized cosine that selected the
    candidate.

    The int8 inner sum is a single exact integer, so the whole
    candidate-selection order is bit-identical in the DuckDB oracle by
    construction (the unigram_lm integer-sums recipe applied to ANN).
    Rounding is ``floor(x + 0.5)`` — half-up in BOTH engines, unlike
    banker's ``round()`` (a known cross-engine hazard class).

    Scale shape: encoding is one narrow projection (codes live
    alongside the float vector here; a production table would persist
    ONLY codes+scale+norm, the 4× win); scoring broadcasts the small
    query side like :func:`cosine_topk` and keeps the two-phase
    partial top-k, but the per-pair hot-loop work is an int64
    multiply-add stream — SIMD-friendly and cache-dense where the
    float path is memory-bound — and the exact float dot runs only on
    the ``rerank·k`` survivors per query. Quality: recall@k vs the
    exact baseline is pinned in tests (int8 keeps ~1e-2 relative
    score error, far inside top-k margins on real corpora)."""
    return _search(
        _corpus_norm(vectors, id_col, vec_col),
        _query_norm(queries, id_col, vec_col),
        _sq_code(rerank), id_col=id_col, k=k,
    )


def oracle_sq_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    rerank: int = 4,
) -> str:
    """DuckDB twin of :func:`sq_topk` — identical per-vector scale,
    identical floor(x+0.5) half-up codes, identical int64 inner sums
    (exact in both engines), identical division order, identical
    two-stage (quantized-select, exact-rerank) tie-breaks."""
    idot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> a.__c[i] * q.__c[i]))"
    )
    dot = _duck_dot("a.__v", "q.__v", dim)
    r = rerank * k
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm,
             list_max(list_transform(__v, x -> abs(x))) / 127.0 AS __s
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    e AS (
      SELECT {id_col}, __v, __nrm, __s,
        list_transform(__v, x -> CAST(floor(x / __s + 0.5) AS BIGINT))
          AS __c
      FROM n
    ),
    q AS (SELECT * FROM e WHERE {query_filter}),
    scored AS (
      SELECT q.{id_col} AS query_id, a.{id_col} AS {id_col},
        a.__v AS __av, q.__v AS __qv, a.__nrm AS __an, q.__nrm AS __qn,
        ((a.__s * q.__s) * CAST({idot} AS DOUBLE)) / (a.__nrm * q.__nrm)
          AS __appx
      FROM e a, q WHERE a.{id_col} <> q.{id_col}
    ),
    cand AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY __appx DESC, {id_col} ASC
      ) AS __cr
      FROM scored QUALIFY __cr <= {r}
    ),
    rer AS (
      SELECT query_id, {id_col}, __appx,
        {_duck_dot("__av", "__qv", dim)} / (__an * __qn) AS __cos
      FROM cand a
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           round(__appx, 6) AS approx,
           CAST(row_number() OVER w AS INT) AS rank
    FROM rer
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


# ---------------------------------------------- product quantization (PQ)

PQ_GRID = 1_048_576  # 2^20: the fixed int grid shared by codes and queries


def _pq_lit_arr(xs: list[float]) -> str:
    return "array(" + ", ".join(f"{x!r}D" for x in xs) + ")"


def _pq_argmin_expr(
    cents_m: dict[int, list[float]], off: int, sub: int, src: str = "__nv"
) -> str:
    """Spark expression: the L2-argmin code for subspace slice
    [off+1, off+sub] of the unit-vector column ``src`` against literal
    centroids — min squared distance, ties to the LOWEST code (struct
    min compares the distance field first, then the code field)."""
    structs = []
    for j in sorted(cents_m):
        dist = (
            f"aggregate(zip_with(slice({src}, {off + 1}, {sub}), "
            f"{_pq_lit_arr(cents_m[j])}, (x, y) -> (x - y) * (x - y)), "
            f"0D, (acc, v) -> acc + v)"
        )
        structs.append(f"named_struct('s', {dist}, 'c', {j})")
    return f"array_min(array({', '.join(structs)})).c"


def _bound_error(what: str, max_rows: int) -> ValueError:
    """The exact error :func:`bounded_collect` raises — the local-fit
    twins enforce the same seed bounds with the same message so the
    gated and distributed paths are indistinguishable to callers."""
    return ValueError(
        f"{what}: driver pull exceeded its documented bound of "
        f"{max_rows} rows — the current configuration implies a "
        f"driver-unsafe codebook/sketch size; resize the knob "
        f"deliberately or keep this object distributed"
    )


def _pq_assign_py(
    nv: list[float], cents_m: dict[int, list[float]], order: list[int],
    off: int, sub: int,
) -> int:
    """Pure-Python twin of :func:`_pq_argmin_expr`'s comparator: min
    squared L2 distance by IEEE left-to-right fold, NULL (ragged slice)
    smallest, NaN greatest, ties to the LOWEST code — exactly Spark's
    ``array_min`` over (s, c) structs."""
    sl = nv[off:off + sub]
    best = None
    for j in order:
        cv = cents_m[j]
        if len(sl) != len(cv):
            k = (0, 0.0, j)  # NULL dist: zip_with pads → null, smallest
        else:
            s = 0.0
            for x, y in zip(sl, cv):
                d = x - y
                s = s + d * d
            k = (2, 0.0, j) if s != s else (1, s, j)
        if best is None or k < best:
            best = k
    return best[2]


def _pq_fit_local(
    rows, id_col: str, dim: int, m_sub: int, n_codes: int, n_iters: int
) -> dict[int, dict[int, list[float]]]:
    """Driver-local twin of :func:`_pq_train`'s distributed loop —
    bit-identical by construction: the pulled ``__nv`` doubles are the
    exact values the distributed assignment would see (the literal
    codebooks round-trip through ``repr``), the per-subspace L2 argmin
    reproduces the ``array_min``-over-structs comparator (min squared
    distance by IEEE left-to-right fold ≡ :func:`sum_lr`, NaN greatest,
    NULL smallest, ties to the LOWEST code), and the component means
    come from exact int64/Python-int micro-unit sums ≡ the
    DECIMAL(38,0) sums, fed through the SAME driver-side update
    arithmetic.

    The assignment vectorizes over (rows, codes) with numpy, looping
    the accumulation over the ``sub`` components so every scalar's
    fold order stays left-to-right (verified bit-equal to the scalar
    loop); ``np.argmin`` ties to the first (lowest) code exactly like
    the struct comparator. numpy's argmin differs from Spark only on
    NaN distances (impossible for normalized finite vectors, but
    guarded anyway) — those iterations, ragged inputs, and
    numpy-less deployments fall back to the scalar twin."""
    sub = dim // m_sub
    data = [(r[0], list(r[1])) for r in rows]
    seed = [(i, nv) for i, nv in data if i is not None and i < n_codes]
    if len(seed) > n_codes:
        raise _bound_error("pq codebook seeds", n_codes)
    if not seed:
        if not data:
            return {}
        raise ValueError(
            f"pq_topk: no nonzero-norm vectors with {id_col} < {n_codes} "
            f"to seed the codebooks — re-id the corpus or lower n_codes"
        )
    cents: dict[int, dict[int, list[float]]] = {
        m: {j: nv[m * sub:(m + 1) * sub] for j, nv in seed}
        for m in range(m_sub)
    }
    np = None
    if all(len(nv) == dim for _, nv in data):
        try:
            import numpy
            np = numpy
        except ImportError:
            np = None
    V = MI = None
    if np is not None:
        V = np.array([nv for _, nv in data], dtype=np.float64)
        # floor(x * 2^20) as int64 — code-independent, computed once
        MI = np.floor(V * float(PQ_GRID)).astype(np.int64)
    data_mi = None

    def _iter_np(m: int, order: list[int]):
        """One subspace's (m, j) -> comps means, or None when numpy's
        argmin would diverge from array_min (NaN) or a centroid is
        ragged — the caller then redoes the subspace in scalar form."""
        if any(len(cents[m][j]) != sub for j in order):
            return None
        off = m * sub
        C = np.array([cents[m][j] for j in order], dtype=np.float64)
        a = np.zeros((len(data), len(order)), dtype=np.float64)
        for d in range(sub):
            D = V[:, off + d, None] - C[None, :, d]
            a = a + D * D
        if np.isnan(a).any():
            return None
        assign = np.argmin(a, axis=1)
        out: dict[tuple[int, int], dict[int, float]] = {}
        for pos, j in enumerate(order):
            sel = MI[assign == pos, off:off + sub]
            if len(sel):
                s = sel.sum(axis=0)
                out[(m, j)] = {
                    d: float(int(s[d])) / (float(PQ_GRID) * len(sel))
                    for d in range(sub)
                }
        return out

    def _iter_py(m: int, order: list[int]):
        nonlocal data_mi
        if data_mi is None:
            data_mi = [
                (nv, [int(math.floor(x * PQ_GRID)) for x in nv])
                for _, nv in data
            ]
        off = m * sub
        sums: dict[tuple[int, int, int], int] = {}
        cnts: dict[tuple[int, int, int], int] = {}
        for nv, mi in data_mi:
            j = _pq_assign_py(nv, cents[m], order, off, sub)
            for d, x in enumerate(mi[off:off + sub]):
                key = (m, j, d)
                sums[key] = sums.get(key, 0) + x
                cnts[key] = cnts.get(key, 0) + 1
        out: dict[tuple[int, int], dict[int, float]] = {}
        for (m, j, d), s in sums.items():
            out.setdefault((m, j), {})[d] = float(s) / (
                float(PQ_GRID) * cnts[(m, j, d)]
            )
        return out

    for _ in range(n_iters):
        new: dict[tuple[int, int], dict[int, float]] = {}
        for m in range(m_sub):
            order = sorted(cents[m])
            got = _iter_np(m, order) if np is not None else None
            if got is None:
                got = _iter_py(m, order)
            new.update(got)
        for (m, j), comps in new.items():
            cents[m][j] = [comps[d] for d in sorted(comps)]
    return cents


def _pq_train(
    v: DataFrame,
    id_col: str,
    dim: int,
    m_sub: int,
    n_codes: int,
    n_iters: int,
) -> dict[int, dict[int, list[float]]]:
    """Deterministic per-subspace L2 k-means over NORMALIZED vectors —
    the train_centroids discipline applied M times in ONE pass per
    iteration: assignment for every subspace rides a single narrow
    projection, and all M·n_codes·(dim/M) component means come back
    from one groupBy as exact DECIMAL(38,0) micro-unit integer sums
    (order-independent, hence bit-identical to the DuckDB CTE twin).
    Normalized components are bounded to [-1, 1] by ‖v̂‖ = 1, so no
    magnitude clamp is needed (both engines skip it identically).
    Seeding = each subspace slice of the ``n_codes`` lowest-id
    vectors; a code left empty keeps its previous centroid.

    Corpora at or under :data:`_ANN_MAX_LOCAL_TRAIN` vectors take the
    driver-local fast path (:func:`_pq_fit_local`): ONE
    ``limit(bound+1)`` pull of (id, __nv) — driver-safe whatever the
    true corpus size — then the whole loop in-process with zero
    further jobs. Above the gate the distributed loop below runs
    unchanged."""
    sub = dim // m_sub
    if _ANN_MAX_LOCAL_TRAIN > 0:
        pulled = (
            v.select(F.col(id_col), "__nv")
            .limit(_ANN_MAX_LOCAL_TRAIN + 1).collect()
        )
        if len(pulled) <= _ANN_MAX_LOCAL_TRAIN:
            return _pq_fit_local(
                pulled, id_col, dim, m_sub, n_codes, n_iters
            )
    # ≤ n_codes rows (bound ENFORCED — exceeding it means duplicate
    # ids below n_codes, a mis-id'd corpus)
    seed = bounded_collect(
        v.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("__j"), "__nv"),
        n_codes, "pq codebook seeds",
    )
    if not seed:
        if v.isEmpty():
            # top-k of an EMPTY corpus is empty, not an error — a
            # 100 TB pipeline hits empty partitions/slices routinely
            # and the DuckDB twin's CTE k-means over zero rows also
            # yields zero rows. Only the
            # non-empty-but-unseedable corpus (every id < n_codes
            # NULL/zero-norm: a mis-id'd corpus) stays LOUD, matching
            # train_centroids' contract.
            return {}
        raise ValueError(
            f"pq_topk: no nonzero-norm vectors with {id_col} < {n_codes} "
            f"to seed the codebooks — re-id the corpus or lower n_codes"
        )
    cents: dict[int, dict[int, list[float]]] = {
        m: {
            r["__j"]: list(r["__nv"])[m * sub:(m + 1) * sub] for r in seed
        }
        for m in range(m_sub)
    }
    for _ in range(n_iters):
        codes = [
            F.expr(_pq_argmin_expr(cents[m], m * sub, sub))
            for m in range(m_sub)
        ]
        rows = (
            v.withColumn("__codes", F.array(*codes))
            .select("__codes", F.posexplode("__nv").alias("__p", "__x"))
            .select(
                F.floor(F.col("__p") / sub).cast("int").alias("__m"),
                F.element_at(
                    "__codes",
                    F.floor(F.col("__p") / sub).cast("int") + 1,
                ).alias("__j"),
                (F.col("__p") % sub).alias("__d"),
                F.expr(
                    f"cast(floor(__x * {PQ_GRID}) as bigint)"
                ).alias("__mi"),
            )
            .groupBy("__m", "__j", "__d")
            .agg(
                F.sum(F.col("__mi").cast("decimal(38,0)")).alias("__s"),
                F.count(F.lit(1)).alias("__c"),
            )
        )
        # ≤ m_sub·n_codes·sub rows (codebook-class): bound ENFORCED
        rows = bounded_collect(
            rows, m_sub * n_codes * sub, "pq codebook training means"
        )
        new: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            new.setdefault((r["__m"], r["__j"]), {})[r["__d"]] = float(
                r["__s"]
            ) / (float(PQ_GRID) * r["__c"])
        for (m, j), comps in new.items():
            cents[m][j] = [comps[d] for d in sorted(comps)]
    return cents


def _pq_codebooks(
    v: DataFrame, id_col: str, dim: int, m_sub: int, n_codes: int,
    n_iters: int,
) -> tuple[dict, dict]:
    """Train + densify + grid-encode the PQ codebooks. Densify: training
    labels codes by SEED ID (the train_centroids convention), which is
    sparse whenever ids below n_codes are missing or norm-dropped —
    but the scoring path indexes the per-query LUT POSITIONALLY
    (element_at), so a sparse label would read past the array (found
    by the vectors fuzz pass, seed 9501, promoted into the committed
    fixtures). Relabel to dense 0..len-1 in sorted-label order:
    order-preserving, so the argmin tie-break (lowest code) matches the
    oracle's lowest-seed-id tie-break exactly — the oracle keeps
    natural labels and joins codes to LUT by label, never
    positionally."""
    cents = _pq_train(v, id_col, dim, m_sub, n_codes, n_iters)
    cents = {
        m: {pos: cents[m][j] for pos, j in enumerate(sorted(cents[m]))}
        for m in cents
    }
    return cents, _pq_grid(cents)


def _pq_grid(cents: dict) -> dict:
    """Grid-encode codebooks: int(floor(c·2^20 + 0.5)) per component —
    exact on identical cross-engine doubles."""
    return {
        m: {
            j: [int(math.floor(c * PQ_GRID + 0.5)) for c in cv]
            for j, cv in cents[m].items()
        }
        for m in cents
    }


def train_pq_codebooks(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
) -> tuple[dict, dict]:
    """Public train-once entry for the PQ codebooks — the
    :func:`train_centroids` convention applied to product
    quantization: train on a reference corpus, freeze, and feed the
    returned ``(cents, cint)`` pair to :meth:`IvfPqIndex.ingest`
    (``pq_codebooks=``) or to the pq code stage (:func:`_pq_code`).
    Training is the deterministic integer-mean k-means of
    :func:`_pq_train`, so two runs over the same corpus are
    bit-identical — which is what makes "index built incrementally
    under a frozen codebook" equal "one-shot plan fed the same
    codebook" exactly."""
    if dim % m_sub:
        raise ValueError(
            f"train_pq_codebooks: dim {dim} not divisible by m_sub {m_sub}"
        )
    v = pin(
        _pq_prep(
            _with_norm(
                spread(vectors, id_col).select(id_col, vec_col), vec_col
            ),
            dim, "train_pq_codebooks",
        )
    )
    try:
        return _pq_codebooks(v, id_col, dim, m_sub, n_codes, n_iters)
    finally:
        v.unpersist()


def _empty_pq_result(a: DataFrame, q: DataFrame, id_col: str) -> DataFrame:
    """Schema-stable empty result for the PQ family on an EMPTY corpus
    — the same five columns the scored path emits, id types mirrored
    from the corpus side ``a`` and the query side ``q`` so downstream
    unions/joins see no difference."""
    qt = dict(q.dtypes).get("query_id", "bigint")
    vt = dict(a.dtypes).get(id_col, "bigint")
    return a.sparkSession.createDataFrame(
        [],
        f"query_id {qt}, {id_col} {vt}, cosine double, approx double, "
        "rank int",
    )


def _pq_codes_col(cents: dict, m_sub: int, sub: int, src: str = "__nv"):
    """The ``m_sub`` per-subspace argmin codes of unit-vector column
    ``src`` (``__nv``, or the residual ``__res``)."""
    return F.array(*[
        F.expr(_pq_argmin_expr(cents[m], m * sub, sub, src))
        for m in range(m_sub)
    ])


def _pq_qi_expr() -> str:
    return (
        f"transform(__nv, x -> cast(floor(x * {PQ_GRID}.0d + 0.5d) "
        f"as bigint))"
    )


def _pq_lut_expr(cint: dict, m_sub: int, sub: int) -> str:
    lut_rows = []
    for m in range(m_sub):
        entries = []
        for j in sorted(cint[m]):
            arr = "array(" + ", ".join(f"{x}L" for x in cint[m][j]) + ")"
            entries.append(
                f"aggregate(zip_with(slice(__qi, {m * sub + 1}, {sub}), "
                f"{arr}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
            )
        lut_rows.append(f"array({', '.join(entries)})")
    return f"array({', '.join(lut_rows)})"


def _pq_iscore(m_sub: int):
    return F.expr(
        f"aggregate(sequence(0, {m_sub - 1}), 0L, (acc, m) -> "
        f"acc + element_at(element_at(__lut, m + 1), "
        f"element_at(__codes, m + 1) + 1))"
    )


# the unit vector v̂ of a _with_norm side, and its residual r = v̂ − ĉ
# against its assigned UNIT centroid (an ivf side kept with __cv/__cn)
_NV = "transform(__v, x -> x / __nrm)"
_RES = "zip_with(__nv, transform(__cv, c -> c / __cn), (x, y) -> x - y)"


def _pq_prep(
    df: DataFrame, dim: int, op: str, *, query: bool = False
) -> DataFrame:
    """A side's PQ inputs: the dim guard, the unit vector ``__nv`` and,
    for a query side, its fixed-grid integer encoding ``__qi``."""
    df = _require_dim(df, dim, op).withColumn("__nv", F.expr(_NV))
    return df.withColumn("__qi", F.expr(_pq_qi_expr())) if query else df


def _pq_code(
    cb: tuple[dict, dict],
    dim: int,
    m_sub: int,
    rerank: int,
    *,
    residual: bool = False,
) -> _Code | None:
    """The pq code over trained codebooks ``cb`` — None when training
    saw no vectors. A corpus vector stores ``m_sub`` codes of ``__nv``
    (of the residual ``__res`` when ``residual``), a query carries its
    per-subspace integer lookup table, and a pair scores by the int64
    ADC sum ``__is`` (``approx`` = ``__is / 2^40``). The residual code
    adds the exact per-(query, probed cell) dot ``__cd = q̂·ĉ`` and
    ranks by ``__adc = __cd + __is / 2^40``, which it also reports."""
    cents, cint = cb
    if not cents:
        return None
    sub = dim // m_sub
    score = [("__is", _pq_iscore(m_sub))]
    approx = F.col("__is").cast("double") / F.lit(float(PQ_GRID) ** 2)
    cd = []
    if residual:
        cd = [F.expr(_dot("__nv", "transform(__cv, c -> c / __cn)"))
              .alias("__cd")]
        score.append(("__adc", F.col("__cd") + approx))
        approx = F.col("__adc")
    src = "__res" if residual else "__nv"
    return _Code(
        lambda a, idc, key: a.select(
            idc,
            *_keys(key),
            F.col("__v").alias("__av"),
            F.col("__nrm").alias("__anrm"),
            _pq_codes_col(cents, m_sub, sub, src).alias("__codes"),
        ),
        lambda q, key: q.select(
            "query_id",
            *_keys(key),
            F.col("__v").alias("__qv"),
            F.col("__nrm").alias("__qnrm"),
            *cd,
            F.expr(_pq_lut_expr(cint, m_sub, sub)).alias("__lut"),
        ),
        score,
        approx,
        rerank,
    )


def _res_codebooks(
    a: DataFrame, id_col: str, dim: int, m_sub: int, n_codes: int,
    n_iters: int,
) -> tuple[dict, dict]:
    """Pooled-residual PQ codebooks of an ivf corpus side carrying
    ``__res``: :func:`_pq_train` reads (id, __nv), so it is fed the
    residuals under that name — same seeding (id < n_codes), same
    exact-integer means, same DuckDB CTE twin."""
    return _pq_codebooks(
        a.select(F.col(id_col), F.col("__res").alias("__nv")),
        id_col, dim, m_sub, n_codes, n_iters,
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via PRODUCT QUANTIZATION with exact
    re-rank — the highest-compression rung of the ANN family, coarse
    ``none`` × code ``pq`` (Jégou, Douze, Schmid TPAMI'11, "Product
    Quantization for Nearest Neighbor Search"; Faiss ``PQ`` / Milvus
    ``IVF_PQ`` storage): the NORMALIZED vector is split into ``m_sub``
    subspaces, each quantized to one of ``n_codes`` per-subspace
    centroids (deterministic L2 k-means via :func:`_pq_train`), so a
    vector stores ``m_sub`` small codes — at (8 subspaces × 1 byte)
    per 64-dim vector that is 32× smaller than float32 — and the
    approximate cosine is the ADC sum of ``m_sub`` table lookups. The
    top ``rerank·k`` candidates per query re-rank by exact cosine;
    output (query_id, id, cosine, approx, rank), rank 1..k by (exact
    cosine desc, id asc).

    Bit-exactness — PQ ranks by summed FLOAT table lookups — is solved
    by a FIXED INTEGER GRID: centroid components and query components
    are both encoded as ``floor(x · 2^20 + 0.5)`` (exact: ‖v̂‖ = 1
    bounds every component to [−1, 1], the power-of-two scaling is
    rounding-free, and half-up floor matches across engines), each
    lookup-table entry is a pure int64 dot of grid codes, and the ADC
    score is an int64 SUM of table entries — order-independent, so the
    whole candidate-selection order is bit-identical in the DuckDB
    oracle by construction (max |score| ≤ dim · 2^40 = 2^46, well
    inside int64). ``approx`` = score / 2^40, again exact scaling.
    Training inherits the integer-mean discipline of
    :func:`train_centroids`, so the codebooks themselves are
    bit-identical cross-engine (:func:`oracle_pq_topk_sql` re-derives
    them with the same CTE chain, never receives them as literals).

    Scale shape: training is ``n_iters`` narrow assignment passes +
    codebook-sized driver pulls; encoding is one narrow projection (a
    production table persists ONLY the m_sub codes + the norm — the
    32× win); scoring broadcasts the query side with its precomputed
    per-query lookup table (m_sub·n_codes int64s — bytes), and the
    per-pair hot loop is ``m_sub`` integer table lookups, cheaper than
    even the int8 dot of :func:`sq_topk`; the exact float dot runs
    only on rerank·k survivors. Quality: recall@k vs the exact
    baseline is a measured number in :func:`recall_probe`, not an
    assertion."""
    if dim % m_sub:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m_sub {m_sub}")
    a = pin(_pq_prep(_corpus_norm(vectors, id_col, vec_col), dim, "pq_topk"))
    return _search(
        a,
        _pq_prep(
            _query_norm(queries, id_col, vec_col), dim, "pq_topk", query=True
        ),
        _pq_code(
            _pq_codebooks(a, id_col, dim, m_sub, n_codes, n_iters),
            dim, m_sub, rerank,
        ),
        id_col=id_col, k=k,
    )


def _duck_pq_kmeans_ctes(
    dim: int, m_sub: int, n_codes: int, n_iters: int, id_col: str
) -> tuple[str, str]:
    """DuckDB CTE chain reproducing :func:`_pq_train` exactly (same
    normalized input, same micro-unit integer means, same L2/lowest-code
    tie-break). Expects an ``nn`` CTE with ({id_col}, __nv) in scope;
    returns (fragment, final_cte_name) where the final CTE has one row
    per (subspace __m, code __j) with the centroid list __cv."""
    sub = dim // m_sub
    dist = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(x.__nv[c.__m * {sub} + i] - c.__cv[i]) "
        f"* (x.__nv[c.__m * {sub} + i] - c.__cv[i])))"
    )
    parts = [
        f"""pc0 AS (
      SELECT s.m AS __m, {id_col} AS __j,
        list_transform(range(1, {sub + 1}),
                       i -> __nv[s.m * {sub} + i]) AS __cv
      FROM nn CROSS JOIN (SELECT unnest(range(0, {m_sub})) AS m) s
      WHERE {id_col} < {n_codes}
    )"""
    ]
    for t in range(n_iters):
        parts.append(f"""pa{t} AS (
      SELECT x.{id_col}, x.__nv, c.__m, c.__j,
        row_number() OVER (PARTITION BY x.{id_col}, c.__m
          ORDER BY {dist} ASC, c.__j ASC) AS cr
      FROM nn x, pc{t} c
      QUALIFY cr = 1
    )""")
        parts.append(f"""ps{t} AS (
      SELECT __m, __j, d.i AS __d,
        sum(CAST(floor(a.__nv[__m * {sub} + d.i] * {PQ_GRID})
                 AS BIGINT)) AS __s,
        count(*) AS __c
      FROM pa{t} a CROSS JOIN (SELECT unnest(range(1, {sub + 1})) AS i) d
      GROUP BY 1, 2, 3
    )""")
        parts.append(f"""pm{t} AS (
      SELECT __m, __j,
        list(CAST(__s AS DOUBLE) / ({PQ_GRID}.0 * CAST(__c AS DOUBLE))
             ORDER BY __d) AS __cv
      FROM ps{t} GROUP BY __m, __j
    )""")
        parts.append(f"""pc{t + 1} AS (
      SELECT p.__m, p.__j, coalesce(m.__cv, p.__cv) AS __cv
      FROM pc{t} p LEFT JOIN pm{t} m USING (__m, __j)
    )""")
    return ",\n    ".join(parts), f"pc{n_iters}"


def oracle_pq_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> str:
    """DuckDB twin of :func:`pq_topk` — re-derives the per-subspace
    codebooks with the full k-means CTE chain (never receives them as
    literals), grid-encodes centroids and queries identically, ranks
    candidates by the identical int64 ADC sum, and re-ranks exactly."""
    sub = dim // m_sub
    kmeans, final = _duck_pq_kmeans_ctes(dim, m_sub, n_codes, n_iters,
                                         id_col)
    dist = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(x.__nv[c.__m * {sub} + i] - c.__cv[i]) "
        f"* (x.__nv[c.__m * {sub} + i] - c.__cv[i])))"
    )
    dot = _duck_dot("a.__av", "q.__qv", dim)
    r = rerank * k
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
        sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    nn AS (
      SELECT {id_col}, __v, __nrm,
        list_transform(__v, x -> x / __nrm) AS __nv
      FROM n
    ),
    {kmeans},
    ci AS (
      SELECT __m, __j,
        list_transform(__cv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __ci
      FROM {final}
    ),
    codes AS (
      SELECT x.{id_col}, c.__m, c.__j,
        row_number() OVER (PARTITION BY x.{id_col}, c.__m
          ORDER BY {dist} ASC, c.__j ASC) AS cr
      FROM nn x, {final} c
      QUALIFY cr = 1
    ),
    qn AS (
      SELECT {id_col} AS query_id, __v AS __qv, __nrm AS __qn,
        list_transform(__nv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __qi
      FROM nn WHERE {query_filter}
    ),
    lut AS (
      SELECT q.query_id, c.__m, c.__j,
        list_sum(list_transform(range(1, {sub + 1}),
                 i -> q.__qi[c.__m * {sub} + i] * c.__ci[i])) AS __val
      FROM qn q CROSS JOIN ci c
    ),
    scored AS (
      SELECT a.{id_col}, l.query_id,
        CAST(sum(l.__val) AS BIGINT) AS __is
      FROM codes a
      JOIN lut l ON l.__m = a.__m AND l.__j = a.__j
      WHERE a.{id_col} <> l.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT s.{id_col}, s.query_id, s.__is,
        row_number() OVER (
          PARTITION BY s.query_id ORDER BY s.__is DESC, s.{id_col} ASC
        ) AS __cr
      FROM scored s QUALIFY __cr <= {r}
    ),
    rer AS (
      SELECT c.query_id, c.{id_col},
        CAST(c.__is AS DOUBLE) / {float(PQ_GRID) ** 2!r} AS __appx,
        {dot} / (a.__nrm * q.__qn) AS __cos
      FROM cand c
      JOIN (SELECT {id_col}, __v AS __av, __nrm FROM nn) a USING ({id_col})
      JOIN qn q ON q.query_id = c.query_id
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           round(__appx, 6) AS approx,
           CAST(row_number() OVER w AS INT) AS rank
    FROM rer
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


# ------------------------------------------------------------------ LSH

def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k, coarse ``lsh`` × code ``raw``: exact cosine
    ranking restricted to the query's LSH bucket. May return fewer than
    k rows per query (bucket-bounded) — that is the approximation. One
    shuffle on the bucket id."""
    a, q = _lsh(
        _require_dim(_corpus_norm(vectors, id_col, vec_col), dim, "lsh_topk"),
        _require_dim(_query_norm(queries, id_col, vec_col), dim, "lsh_topk"),
        dim, n_planes,
    )
    return _search(a, q, _raw_code(), id_col=id_col, k=k, key="__bkt")


def oracle_lsh_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    k: int = 5,
) -> str:
    planes = hyperplanes(dim, n_planes)
    dot = _duck_dot("a.__v", "q.__v", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm,
             {_duck_bucket(planes, "__v", dim)} AS __bkt
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    q AS (SELECT * FROM n WHERE {query_filter}),
    scored AS (
      SELECT q.{id_col} AS query_id, a.{id_col} AS {id_col},
             {dot} / (a.__nrm * q.__nrm) AS __cos
      FROM n a JOIN q ON a.__bkt = q.__bkt AND a.{id_col} <> q.{id_col}
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           CAST(row_number() OVER w AS INT) AS rank
    FROM scored
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k, coarse ``ivf`` × code
    ``raw`` — the second scale path beside :func:`lsh_topk`.

    Coarse quantizer: the ``n_cells`` lowest-id vectors serve as cell
    centroids — a deterministic, reproducible seeding — or
    ``centroids`` (columns ``__cell, __cv, __cn``, e.g. a
    :func:`train_centroids` codebook) drops into the same plan without
    changing its shape. Every vector is assigned to its nearest
    centroid by cosine (ties to the lowest cell id); each query probes
    its ``n_probe`` nearest cells and exact-ranks ONLY those cells'
    vectors.

    Scale: centroids are broadcast; assignment is a broadcast join +
    per-vector argmax; the ranking shuffles once on the cell id, and
    per-cell work is bounded by cell size × queries probing the cell.
    No all-pairs stage."""
    a, q = _ivf(
        _corpus_norm(vectors, id_col, vec_col),
        _query_norm(queries, id_col, vec_col),
        centroids if centroids is not None
        else _seed_cells(vectors, id_col, vec_col, n_cells),
        id_col, n_probe,
    )
    return _search(a, q, _raw_code(), id_col=id_col, k=k, key="__cell")


def oracle_ivf_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
) -> str:
    cdot = _duck_dot("x.__v", "c.__v", dim)
    dot = _duck_dot("a.__v", "q.__v", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    cents AS (SELECT * FROM n WHERE {id_col} < {n_cells}),
    assigned AS (
      SELECT x.{id_col}, x.__v, x.__nrm, c.{id_col} AS __cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__nrm) DESC, c.{id_col} ASC) AS cr
      FROM n x, cents c
      QUALIFY cr = 1
    ),
    probes AS (
      SELECT x.{id_col} AS query_id, x.__v, x.__nrm, c.{id_col} AS __cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__nrm) DESC, c.{id_col} ASC) AS cr
      FROM n x, cents c
      WHERE {query_filter.replace(id_col, 'x.' + id_col)}
      QUALIFY cr <= {n_probe}
    ),
    scored AS (
      SELECT q.query_id, a.{id_col},
             {dot} / (a.__nrm * q.__nrm) AS __cos
      FROM assigned a JOIN probes q ON a.__cell = q.__cell
      WHERE a.{id_col} <> q.query_id
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           CAST(row_number() OVER w AS INT) AS rank
    FROM scored
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def ivf_sq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    rerank: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF × scalar quantization, coarse ``ivf`` × code ``sq`` — the
    production warehouse-ANN shape (Faiss/Milvus ``IVF_SQ8``): the
    coarse quantizer of :func:`ivf_topk` prunes the search to each
    query's ``n_probe`` nearest cells, and WITHIN the probed cells
    candidates are ranked by the int8 quantized cosine of
    :func:`sq_topk` (pure int64 inner sums — candidate order
    bit-identical in the DuckDB oracle by construction); the top
    ``rerank·k`` per query are re-ranked by exact cosine. Output
    (query_id, vec_id, cosine, approx, rank).

    Why this is the composition that matters at 100 TB: IVF bounds
    WHICH vectors are touched (cell population × probes, never the
    corpus), SQ bounds what touching one COSTS (4× smaller codes —
    the postings actually resident per cell — and an integer
    multiply-add stream instead of float loads); exact math runs only
    on ``rerank·k`` survivors per query.

    ``centroids`` (optional, columns ``__cell, __cv, __cn``) drops a
    :func:`train_centroids` codebook into the same plan, as in
    :func:`ivf_topk`."""
    a, q = _ivf(
        _corpus_norm(vectors, id_col, vec_col),
        _query_norm(queries, id_col, vec_col),
        centroids if centroids is not None
        else _seed_cells(vectors, id_col, vec_col, n_cells),
        id_col, n_probe,
    )
    return _search(a, q, _sq_code(rerank), id_col=id_col, k=k, key="__cell")


def oracle_ivf_sq_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> str:
    """DuckDB twin of :func:`ivf_sq_topk` — the ivf_topk oracle's
    coarse assignment composed with the sq_topk oracle's quantized
    candidate selection and exact re-rank."""
    cdot = _duck_dot("x.__v", "c.__v", dim)
    idot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> a.__c[i] * q.__c[i]))"
    )
    r = rerank * k
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm,
             list_max(list_transform(__v, x -> abs(x))) / 127.0 AS __s
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    e AS (
      SELECT *, list_transform(__v,
        x -> CAST(floor(x / __s + 0.5) AS BIGINT)) AS __c
      FROM n
    ),
    cents AS (SELECT {id_col}, __v, __nrm FROM n WHERE {id_col} < {n_cells}),
    assigned AS (
      SELECT x.{id_col}, x.__v, x.__nrm, x.__s, x.__c,
        c.{id_col} AS __cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__nrm) DESC, c.{id_col} ASC) AS cr
      FROM e x, cents c
      QUALIFY cr = 1
    ),
    probes AS (
      SELECT x.{id_col} AS query_id, x.__v, x.__nrm, x.__s, x.__c,
        c.{id_col} AS __cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__nrm) DESC, c.{id_col} ASC) AS cr
      FROM e x, cents c
      WHERE {query_filter.replace(id_col, 'x.' + id_col)}
      QUALIFY cr <= {n_probe}
    ),
    cand AS (
      SELECT q.query_id, a.{id_col},
        a.__v AS __av, q.__v AS __qv, a.__nrm AS __an, q.__nrm AS __qn,
        ((a.__s * q.__s) * CAST({idot} AS DOUBLE)) / (a.__nrm * q.__nrm)
          AS __appx,
        row_number() OVER (PARTITION BY q.query_id ORDER BY
          ((a.__s * q.__s) * CAST({idot} AS DOUBLE)) / (a.__nrm * q.__nrm)
            DESC, a.{id_col} ASC) AS __cr
      FROM assigned a JOIN probes q ON a.__cell = q.__cell
      WHERE a.{id_col} <> q.query_id
      QUALIFY __cr <= {r}
    ),
    rer AS (
      SELECT query_id, {id_col}, __appx,
        {_duck_dot("__av", "__qv", dim)} / (__an * __qn) AS __cos
      FROM cand
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           round(__appx, 6) AS approx,
           CAST(row_number() OVER w AS INT) AS rank
    FROM rer
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """IVF × product quantization, coarse ``ivf`` × code ``pq`` — the
    full production IVF_PQ shape (Faiss ``IVFx,PQy`` / Milvus
    ``IVF_PQ``): the coarse quantizer of :func:`ivf_topk` prunes each
    query's search to its ``n_probe`` nearest cells, and WITHIN the
    probed cells candidates are ranked by :func:`pq_topk`'s integer ADC
    sum (fixed-grid int64 table lookups — candidate order bit-identical
    in the DuckDB oracle by construction); the top ``rerank·k`` per
    query re-rank by exact cosine. Output (query_id, vec_id, cosine,
    approx, rank).

    The non-residual variant: PQ codebooks are trained on the full
    normalized vectors, not on per-cell residuals (Faiss's default
    encodes residuals for tighter codes — :func:`ivf_pq_res_topk`; the
    non-residual form — what Faiss calls ``IVFPQFastScan``'s layout and
    many warehouse systems ship — keeps ONE codebook set shared across
    cells, which is what lets the oracle re-derive training with a
    single CTE chain and the codes stay valid if a vector migrates
    cells on retrain).

    At 100 TB this is the endgame composition: IVF bounds WHICH
    vectors are touched (cell population × probes), PQ bounds what
    touching one COSTS — ``m_sub`` bytes of codes per vector (32×
    smaller than float32 at dim 64) and ``m_sub`` integer table
    lookups per pair, with exact math only on rerank·k survivors;
    converges to :func:`ivf_topk` at full rerank (pinned in tests)."""
    if dim % m_sub:
        raise ValueError(
            f"ivf_pq_topk: dim {dim} not divisible by m_sub {m_sub}"
        )
    a = pin(
        _pq_prep(_corpus_norm(vectors, id_col, vec_col), dim, "ivf_pq_topk")
    )
    cb = _pq_codebooks(a, id_col, dim, m_sub, n_codes, n_iters)
    a, q = _ivf(
        a,
        _pq_prep(
            _query_norm(queries, id_col, vec_col), dim, "ivf_pq_topk",
            query=True,
        ),
        _seed_cells(vectors, id_col, vec_col, n_cells), id_col, n_probe,
        carry=("__qi",),
    )
    return _search(
        a, q, _pq_code(cb, dim, m_sub, rerank), id_col=id_col, k=k,
        key="__cell",
    )


def oracle_ivf_pq_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk` — the ivf_topk oracle's
    coarse assignment composed with the pq_topk oracle's re-derived
    codebooks, integer ADC ranking, and exact re-rank."""
    sub = dim // m_sub
    kmeans, final = _duck_pq_kmeans_ctes(dim, m_sub, n_codes, n_iters,
                                         id_col)
    cdot = _duck_dot("x.__v", "c.__v", dim)
    dist = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(x.__nv[c.__m * {sub} + i] - c.__cv[i]) "
        f"* (x.__nv[c.__m * {sub} + i] - c.__cv[i])))"
    )
    dot = _duck_dot("a.__av", "q.__qv", dim)
    r = rerank * k
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
        sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    nn AS (
      SELECT {id_col}, __v, __nrm,
        list_transform(__v, x -> x / __nrm) AS __nv
      FROM n
    ),
    {kmeans},
    ci AS (
      SELECT __m, __j,
        list_transform(__cv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __ci
      FROM {final}
    ),
    cents AS (SELECT {id_col}, __v, __nrm FROM n WHERE {id_col} < {n_cells}),
    cell_a AS (
      SELECT x.{id_col}, c.{id_col} AS __cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__nrm) DESC, c.{id_col} ASC) AS cr
      FROM n x, cents c
      QUALIFY cr = 1
    ),
    codes AS (
      SELECT x.{id_col}, c.__m, c.__j,
        row_number() OVER (PARTITION BY x.{id_col}, c.__m
          ORDER BY {dist} ASC, c.__j ASC) AS cr
      FROM nn x, {final} c
      QUALIFY cr = 1
    ),
    probes AS (
      SELECT x.{id_col} AS query_id, c.{id_col} AS __cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__nrm) DESC, c.{id_col} ASC) AS cr
      FROM n x, cents c
      WHERE {query_filter.replace(id_col, 'x.' + id_col)}
      QUALIFY cr <= {n_probe}
    ),
    qn AS (
      SELECT {id_col} AS query_id, __v AS __qv, __nrm AS __qn,
        list_transform(__nv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __qi
      FROM nn WHERE {query_filter}
    ),
    lut AS (
      SELECT q.query_id, c.__m, c.__j,
        list_sum(list_transform(range(1, {sub + 1}),
                 i -> q.__qi[c.__m * {sub} + i] * c.__ci[i])) AS __val
      FROM qn q CROSS JOIN ci c
    ),
    scored AS (
      SELECT a.{id_col}, p.query_id,
        CAST(sum(l.__val) AS BIGINT) AS __is
      FROM cell_a a
      JOIN probes p ON p.__cell = a.__cell
      JOIN codes cd ON cd.{id_col} = a.{id_col}
      JOIN lut l ON l.query_id = p.query_id
        AND l.__m = cd.__m AND l.__j = cd.__j
      WHERE a.{id_col} <> p.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT s.{id_col}, s.query_id, s.__is,
        row_number() OVER (
          PARTITION BY s.query_id ORDER BY s.__is DESC, s.{id_col} ASC
        ) AS __cr
      FROM scored s QUALIFY __cr <= {r}
    ),
    rer AS (
      SELECT c.query_id, c.{id_col},
        CAST(c.__is AS DOUBLE) / {float(PQ_GRID) ** 2!r} AS __appx,
        {dot} / (a.__nrm * q.__qn) AS __cos
      FROM cand c
      JOIN (SELECT {id_col}, __v AS __av, __nrm FROM nn) a USING ({id_col})
      JOIN qn q ON q.query_id = c.query_id
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           round(__appx, 6) AS approx,
           CAST(row_number() OVER w AS INT) AS rank
    FROM rer
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """


def semantic_decontaminate(
    corpus: DataFrame,
    evals: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-space eval-set decontamination — the vector-modality
    complement of :func:`~streamtasks_spark.llmdata.pipeline.
    decontaminate` (which catches shared n-GRAMS): one row per CORPUS
    vector whose cosine to ANY eval vector reaches ``threshold`` —
    ``(vec_id, n_eval_hits, best_eval, best_cos)`` with a
    deterministic champion (highest 6-dp cosine, lowest eval id on
    ties; the dedup_against output convention). Paraphrased or
    re-worded eval leakage has near-identical embeddings but disjoint
    8-grams, so a curation pipeline runs BOTH screens before training.

    Exact by design, not ANN: an eval benchmark is thousands of rows,
    so exhaustive scoring against it is one broadcast away and misses
    nothing — approximation budgets belong on corpus×corpus problems
    (semantic_dedup), not corpus×eval. Zero-norm/NULL/mis-dimensioned
    vectors drop at the shared norm gate on both sides, both engines.

    100 TB shape: the eval side BROADCASTS (benchmark-sized, the
    contamination_report rule); the corpus streams ONE scan with a
    narrow per-pair dot; the only shuffle is the per-corpus-id
    partial-agg rollup of its (bounded-by-eval-size) hit fan-in. The
    raw-cosine threshold filter and the identical dot expression make
    every surviving pair — and therefore the whole report —
    bit-reproducible in the DuckDB twin."""
    e = _with_norm(
        evals.select(F.col(id_col).alias("__eid"), vec_col), vec_col
    ).select("__eid", F.col("__v").alias("__ev"), F.col("__nrm").alias("__en"))
    c = _with_norm(
        spread(corpus, id_col).select(id_col, vec_col), vec_col
    ).select(id_col, "__v", "__nrm")
    cos = _cos("__v", "__ev", "__nrm", "__en")
    pairs = (
        c.crossJoin(broadcast(e))
        .withColumn("__raw", cos)
        .filter(F.col("__raw") >= F.lit(threshold))
        .withColumn("__cos", F.round("__raw", 6))
    )
    wmax = Window.partitionBy(id_col)
    return (
        pairs.withColumn("__mc", F.max("__cos").over(wmax))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.min(
                F.when(F.col("__cos") == F.col("__mc"), F.col("__eid"))
            ).alias("best_eval"),
            F.max("__cos").alias("best_cos"),
        )
    )


def oracle_semantic_decontaminate_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    corpus_filter: str = "vec_id % 10 <> 3",
    eval_filter: str = "vec_id % 10 = 3",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate` — same dot/norm
    fragments as the cosine_topk oracle, same raw-threshold-then-round
    sequence, same champion tie-break."""
    dot = _duck_dot("c.__v", "e.__v", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    c AS (SELECT * FROM n WHERE {corpus_filter}),
    e AS (SELECT * FROM n WHERE {eval_filter}),
    scored AS (
      SELECT c.{id_col}, e.{id_col} AS __eid,
             {dot} / (c.__nrm * e.__nrm) AS __raw
      FROM c, e
    ),
    hits AS (
      SELECT {id_col}, __eid, round(__raw, 6) AS __cos
      FROM scored WHERE __raw >= {threshold!r}
    ),
    m AS (
      SELECT *, max(__cos) OVER (PARTITION BY {id_col}) AS __mc FROM hits
    )
    SELECT {id_col},
      CAST(count(*) AS BIGINT) AS n_eval_hits,
      CAST(min(CASE WHEN __cos = __mc THEN __eid END) AS BIGINT)
        AS best_eval,
      max(__cos) AS best_cos
    FROM m GROUP BY {id_col}
    """


def recall_probe(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    rerank: int = 4,
    pq_m_sub: int = 8,
    pq_codes: int = 16,
    pq_iters: int = 2,
    pq_rerank: int = 8,
) -> DataFrame:
    """Measured recall@k of the approximate tiers against the exact
    baseline, as a query: for each approximate method, the fraction of
    exact top-k (query, neighbor) pairs it also returns. Output one row
    per method: (method, hits, possible, recall), over seven rungs —
    lsh, ivf, sq (int8 scalar quantization), ivf_sq (the IVF_SQ8
    composition), pq (product quantization, 32× compression), ivf_pq
    (the production IVF_PQ composite) and ivf_pq_res (residual
    encoding, the full Faiss formulation) — so every step of the
    accuracy/cost ladder carries a driver-verified quality number. The
    synthetic corpus is PQ's worst case (no cluster structure for the
    per-subspace codebooks to exploit), which is exactly why its
    recall is probed rather than asserted.

    All inputs are deterministic (fixed hyperplanes / centroid
    seeding / integer-exact quantized ranks / tie-breaks), so recall
    itself is deterministic and DuckDB-reproducible — the quality of
    the approximate tier becomes a driver-verified number instead of
    an asserted one.

    Each rung composes the search pipeline's stages over inputs built
    ONCE, every value bit-identical to the standalone tier's (same
    expressions, same seeded codebook, same tie-breaks): one pinned
    normalized corpus scan feeds the exact baseline and every rung;
    one pinned ivf assignment per side, carrying every code's inputs
    (unit vectors, the queries' integer encoding, the assigned
    centroid and the corpus residual), feeds the four IVF rungs; the
    pq and ivf_pq rungs share one codebook training. Empty-seed
    corpora stay bit-identical too: the shared assignment is empty
    exactly when each tier's own would be. The pins feed the RETURNED
    plan's lineage, so they cannot be released here — bound their
    lifetime with pin_scope() in long-lived sessions (the unigram_lm
    cache contract)."""
    op = "recall_probe"
    vn = pin(_corpus_norm(vectors, id_col, vec_col))
    qn = _query_norm(queries, id_col, vec_col)
    exact = pin(
        _search(vn, qn, _raw_code(), id_col=id_col, k=k)
        .select("query_id", id_col)
    )
    lsh_a, lsh_q = _lsh(
        _require_dim(vn, dim, op), _require_dim(qn, dim, op), dim, n_planes
    )
    # the pq rung trains on and scores the full corpus — NOT the
    # assigned side, whose rows vanish when the seed cells are empty
    pq_a, pq_q = _pq_prep(vn, dim, op), _pq_prep(qn, dim, op, query=True)
    va, qa = _ivf(
        pq_a, pq_q, _seed_cells(vn, id_col, vec_col, n_cells), id_col,
        n_probe, carry=("__nv", "__qi"), keep_centroid=True,
    )
    va, qa = pin(va.withColumn("__res", F.expr(_RES))), pin(qa)
    # the shared (pq/ivf_pq) training and the residual rung's training
    # are independent deterministic jobs — overlap their
    # driver⇄cluster round trips (guide §2.6). The residual codebooks
    # cannot be shared: they quantize residuals, and the measured gap
    # between ivf_pq and ivf_pq_res IS the answer to "is residual
    # coding worth the re-encode-on-retrain coupling?".
    cb, res_cb = run_build_steps(
        lambda: _pq_codebooks(pq_a, id_col, dim, pq_m_sub, pq_codes, pq_iters),
        lambda: _res_codebooks(va, id_col, dim, pq_m_sub, pq_codes, pq_iters),
    )
    pq = _pq_code(cb, dim, pq_m_sub, pq_rerank)
    res = _pq_code(res_cb, dim, pq_m_sub, pq_rerank, residual=True)
    rung = functools.partial(_search, id_col=id_col, k=k)
    rungs = {
        "lsh": rung(lsh_a, lsh_q, _raw_code(), key="__bkt"),
        "ivf": rung(va, qa, _raw_code(), key="__cell"),
        "sq": rung(vn, qn, _sq_code(rerank)),
        "ivf_sq": rung(va, qa, _sq_code(rerank), key="__cell"),
        "pq": rung(pq_a, pq_q, pq),
        "ivf_pq": rung(va, qa, pq, key="__cell"),
        "ivf_pq_res": rung(va, qa, res, key="__cell"),
    }

    # Scoring: one left-join + single-row aggregate branch per rung,
    # DELIBERATELY: a measured alternative — union the rungs' (query_id,
    # id, method) hits and score with ONE join + ONE groupBy(method) —
    # cut exec Spark jobs 64 → 27 but ran consistently ~40% SLOWER at
    # sf0.1 (15.1 s tight cluster vs 9.5 s best): funneling all seven
    # rung plans through one broadcast-union barrier serializes
    # branches the scheduler otherwise overlaps across cores. Seven
    # independent single-row aggs is the shape that parallelizes; see
    # OPTIMIZATION_r11.md wave 6.
    def one(name: str, approx: DataFrame) -> DataFrame:
        # broadcast the rung's hit set: it is bounded by n_queries · k
        # rows, so the left join against the pinned exact set never
        # needs a shuffle — without the hint the initial plan
        # sort-merge-joins two tiny sides (AQE only converts AFTER
        # materializing both shuffles)
        a = F.broadcast(
            approx.select("query_id", id_col, F.lit(1).alias("__hit"))
        )
        return (
            exact.join(a, ["query_id", id_col], "left")
            .agg(
                F.count(F.lit(1)).alias("possible"),
                F.count("__hit").alias("hits"),
            )
            .select(
                F.lit(name).alias("method"),
                "hits",
                "possible",
                # nullif guard: a global agg over ZERO exact rows still
                # emits one row with possible = 0, and under ANSI the
                # bare division kills the job (DIVIDE_BY_ZERO) where
                # the oracle returns a NULL recall. NULL recall is the
                # honest answer when there is nothing to recall.
                F.round(
                    F.col("hits")
                    / F.expr("cast(nullif(possible, 0) as double)"),
                    6,
                ).alias("recall"),
            )
        )

    return functools.reduce(
        DataFrame.unionByName, (one(n, df) for n, df in rungs.items())
    )


def oracle_recall_probe_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    rerank: int = 4,
    pq_m_sub: int = 8,
    pq_codes: int = 16,
    pq_iters: int = 2,
    pq_rerank: int = 8,
) -> str:
    common = dict(
        source_sql=source_sql, query_filter=query_filter, id_col=id_col,
        vec_col=vec_col, dim=dim, k=k,
    )
    exact = oracle_cosine_topk_sql(**common)
    lsh = oracle_lsh_topk_sql(**common, n_planes=n_planes)
    ivf = oracle_ivf_topk_sql(**common, n_cells=n_cells, n_probe=n_probe)
    sq = oracle_sq_topk_sql(**common, rerank=rerank)
    ivf_sq = oracle_ivf_sq_topk_sql(
        **common, n_cells=n_cells, n_probe=n_probe, rerank=rerank
    )
    pq = oracle_pq_topk_sql(
        **common, m_sub=pq_m_sub, n_codes=pq_codes, n_iters=pq_iters,
        rerank=pq_rerank,
    )
    ivf_pq = oracle_ivf_pq_topk_sql(
        **common, n_cells=n_cells, n_probe=n_probe, m_sub=pq_m_sub,
        n_codes=pq_codes, n_iters=pq_iters, rerank=pq_rerank,
    )
    ivf_pq_res = oracle_ivf_pq_res_topk_sql(
        **common, n_cells=n_cells, n_probe=n_probe, m_sub=pq_m_sub,
        n_codes=pq_codes, n_iters=pq_iters, rerank=pq_rerank,
    )
    recall = (
        f"SELECT count(a.query_id) AS hits, count(*) AS possible,\n"
        f"  round(count(a.query_id)::DOUBLE / nullif(count(*), 0), 6)"
        f" AS recall\n"
        f"FROM exact e LEFT JOIN {{m}} a\n"
        f"  ON e.query_id = a.query_id AND e.{id_col} = a.{id_col}"
    )
    return f"""
    WITH exact AS ({exact}),
    lsh AS ({lsh}),
    ivf AS ({ivf}),
    sq AS ({sq}),
    ivf_sq AS ({ivf_sq}),
    pq AS ({pq}),
    ivf_pq AS ({ivf_pq}),
    ivf_pq_res AS ({ivf_pq_res})
    SELECT 'lsh' AS method, * FROM ({recall.format(m='lsh')})
    UNION ALL
    SELECT 'ivf' AS method, * FROM ({recall.format(m='ivf')})
    UNION ALL
    SELECT 'sq' AS method, * FROM ({recall.format(m='sq')})
    UNION ALL
    SELECT 'ivf_sq' AS method, * FROM ({recall.format(m='ivf_sq')})
    UNION ALL
    SELECT 'pq' AS method, * FROM ({recall.format(m='pq')})
    UNION ALL
    SELECT 'ivf_pq' AS method, * FROM ({recall.format(m='ivf_pq')})
    UNION ALL
    SELECT 'ivf_pq_res' AS method, * FROM ({recall.format(m='ivf_pq_res')})
    """


def embedding_near_dup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    threshold: float = 0.4,
    bands: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: candidate
    pairs share a hyperplane bucket; exact cosine verifies ≥ threshold.
    Output: (vec_a, vec_b, cosine).

    ``bands`` applies dedup_minhash's band structure to the SimHash
    plane sets: ``bands`` independent groups of ``n_planes`` planes
    each, a candidate pair needing agreement in ANY one band (the
    per-band requirement is all-planes-agree). This is the recall
    recovery for the 100 TB configuration that scales ``n_planes``
    with log2(corpus) to keep bucket population constant: a single
    plane set at that width drops true pairs whose cosine sits near
    the threshold (measured ~79% pair recall at 10× corpus,
    SCALE.md), while B bands recover 1-(1-r)^B of them for ~B× the
    per-band candidate volume — still bucket-bounded, never
    all-pairs. bands=1 is the original single-set behavior."""
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    base = _require_dim(
        _with_norm(spread(vectors, id_col).select(id_col, vec_col), vec_col),
        dim, "embedding_near_dup",
    )
    if bands == 1:
        v = pin(
            base.withColumn(
                "__bkt", F.expr(_bucket_expr(hyperplanes(dim, n_planes)))
            ).select(id_col, "__v", "__nrm", "__bkt")
        )
        a = v.select(
            F.col("__bkt"),
            F.col(id_col).alias("vec_a"),
            F.col("__v").alias("__va"),
            F.col("__nrm").alias("__na"),
        )
        b = v.select(
            F.col("__bkt"),
            F.col(id_col).alias("vec_b"),
            F.col("__v").alias("__vb"),
            F.col("__nrm").alias("__nb"),
        )
        join_keys = ["__bkt"]
    else:
        # one draw of bands·n_planes planes, sliced into bands — each
        # band is an independent Rademacher set. The per-vector key is
        # (band index, band bucket); posexplode keeps the join a plain
        # shuffle on that composite key, so candidate volume is the
        # SUM of per-band bucket pairings (bounded), not a cross of
        # band sets.
        all_planes = hyperplanes(dim, bands * n_planes)
        band_planes = [
            all_planes[i * n_planes : (i + 1) * n_planes]
            for i in range(bands)
        ]
        v = pin(
            base.withColumn(
                "__bkts",
                F.array(*[F.expr(_bucket_expr(bp)) for bp in band_planes]),
            ).select(id_col, "__v", "__nrm", "__bkts")
        )
        e = v.select(
            F.col(id_col),
            F.col("__v"),
            F.col("__nrm"),
            F.posexplode("__bkts").alias("__band", "__bkt"),
        )
        a = e.select(
            F.col("__band"),
            F.col("__bkt"),
            F.col(id_col).alias("vec_a"),
            F.col("__v").alias("__va"),
            F.col("__nrm").alias("__na"),
        )
        b = e.select(
            F.col("__band"),
            F.col("__bkt"),
            F.col(id_col).alias("vec_b"),
            F.col("__v").alias("__vb"),
            F.col("__nrm").alias("__nb"),
        )
        join_keys = ["__band", "__bkt"]
    cos = _cos("__va", "__vb", "__na", "__nb")
    return (
        a.join(b, join_keys)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= F.lit(threshold))
        # a pair hitting in k bands yields k identical rows (cosine is
        # computed from the same vectors) — the same end distinct that
        # already collapsed same-bucket duplicates absorbs them
        .select("vec_a", "vec_b", F.round("__cos", 6).alias("cosine"))
        .distinct()
    )


def oracle_embedding_near_dup_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    threshold: float = 0.4,
    bands: int = 1,
) -> str:
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if bands == 1:
        band_planes = [hyperplanes(dim, n_planes)]
    else:
        all_planes = hyperplanes(dim, bands * n_planes)
        band_planes = [
            all_planes[i * n_planes : (i + 1) * n_planes]
            for i in range(bands)
        ]
    dot = _duck_dot("a.__v", "b.__v", dim)
    bkt_cols = ",\n             ".join(
        f"{_duck_bucket(bp, '__v', dim)} AS __bkt{i}"
        for i, bp in enumerate(band_planes)
    )
    # candidates = UNION ALL over bands (any-band agreement); the outer
    # DISTINCT collapses pairs that hit in several bands — cosine is
    # identical per pair so the tuples are identical too
    branches = "\n    UNION ALL\n    ".join(
        f"SELECT a.{id_col} AS vec_a, b.{id_col} AS vec_b,\n"
        f"           round({dot} / (a.__nrm * b.__nrm), 6) AS cosine\n"
        f"    FROM n a JOIN n b"
        f" ON a.__bkt{i} = b.__bkt{i} AND a.{id_col} < b.{id_col}\n"
        f"    WHERE {dot} / (a.__nrm * b.__nrm) >= {threshold}"
        for i in range(len(band_planes))
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm,
             {bkt_cols}
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    )
    SELECT DISTINCT vec_a, vec_b, cosine FROM (
    {branches}
    )
    """


# ---------------------------------------------------- persistent index

class _IvfLifecycle:
    """The lifecycle both persistent IVF indexes share, written for
    the raw code (exact vectors in ``cells/``, :class:`IvfIndex`):
    epoch resolution and the table paths, coarse-codebook seeding with
    its empty-codebook unwind, ingest, :meth:`compact`,
    :meth:`drift_report`, :meth:`rebuild` and the query prune to the
    probed cells (:meth:`_probe`). Ingest is :meth:`stage` — the
    :class:`~streamtasks_spark.core.state.Staging` ingest over the
    tables of :attr:`_appended` — then its commit.
    :class:`IvfPqIndex` overrides only
    its code: what a side carries (:meth:`_prep`), the PQ codebooks'
    load / train / write, the encode of assigned rows
    (:meth:`_land_cells`), its drift stats and its query scoring.

    Epoch resolution: a rebuild must replace every table together, and
    separate manifest flips cannot be atomic — a crash between them
    would leave assignments or codes inconsistent with codebooks, the
    silent-wrong failure mode. So the index root carries its own
    manifest naming the live EPOCH (one ``seg_*`` directory holding
    every table); rebuild stages a complete new epoch and commits it
    with the same ONE atomic pointer flip every table commit uses. A
    pre-epoch index (tables directly under path, no root manifest)
    resolves to the root itself. Paths resolve per access, so an
    operation overlapping a rebuild's flip could mix epochs — but
    rebuild (like compact) already requires exclusive access because
    its post-flip GC deletes the old epoch's files out from under any
    in-flight plan; the contract, not the resolution, is the isolation
    boundary."""

    _tables = ("centroids", "cells", "stats")  # one epoch's tables
    _appended = ("cells", "stats")  # per ingest, in commit order
    _cell_tables = ("cells",)  # partitioned by __cell
    _raw = ("cells", "__v", "__nrm")  # where the exact vectors live
    _coarse_name = "codebook"
    _q_carry: tuple[str, ...] = ()  # query columns the code reads

    def __init__(
        self,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 8,
        n_probe: int = 2,
    ) -> None:
        self.path = str(path)
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_cells = n_cells
        self.n_probe = n_probe

    def _root(self) -> str:
        m = read_manifest(self.path)
        if m is None or not m["segments"]:
            return self.path
        return os.path.join(self.path, m["segments"][-1])

    @property
    def centroids_path(self) -> str:
        return f"{self._root()}/centroids"

    @property
    def cells_path(self) -> str:
        return f"{self._root()}/cells"

    @property
    def stats_path(self) -> str:
        return f"{self._root()}/stats"

    def _centroids(self, spark) -> DataFrame | None:
        return snapshot_read(spark, self.centroids_path)

    # -- the code's hooks: the raw code has no state beyond the vectors

    def _prep(self, df: DataFrame, query: bool = False) -> DataFrame:
        """A normalized side with the code's inputs attached."""
        return df

    def _load_code(self, spark):
        """The frozen code state, None before the first ingest."""
        return None

    def _ingest_code(self, spark, v: DataFrame, supplied):
        """The code state an ingest encodes with; the first ingest
        writes it (``supplied`` or trained on the batch ``v``)."""
        return None

    def _retrain_code(self, vecs: DataFrame):
        """The code state a rebuild re-encodes with, trained on the
        index's own exact vectors ``vecs``."""
        return None

    def _write_code(self, spark, code, root: str) -> None:
        """Persist ``code`` under the table root ``root``."""

    def _land_cells(self, st: Staging, assigned: DataFrame, root: str,
                    code) -> None:
        """Land ``assigned`` (id, __v, __nrm, __cell) under ``root``;
        partition dirs (__cell=N/) live inside the segment, so
        probed-cell pruning is unchanged."""
        st.land(
            _raw_code().corpus(assigned, self.id_col, "__cell"),
            f"{root}/cells", partition_by="__cell",
        )

    def _appended_paths(self, root: str) -> tuple[str, ...]:
        return tuple(f"{root}/{t}" for t in self._appended)

    def _stats(self, v: DataFrame, cb: dict, code, ingest_id) -> DataFrame:
        return _drift_stats(
            v, cb, None, batch_expr=F.lit(ingest_id)
        ).withColumnRenamed("batch_id", "ingest_id")

    # -- lifecycle ------------------------------------------------------

    def _seed(self, spark, v: DataFrame, codebook) -> tuple[DataFrame, bool]:
        """The frozen coarse codebook; the FIRST ingest writes it from
        the supplied ``codebook`` or the batch's ``id_col < n_cells``
        rows — the one-shot tiers' default seeding
        (:func:`_seed_cells`). Returns (codebook, written now)."""
        cents = self._centroids(spark)
        if cents is not None:
            return cents, False
        replace_write(
            codebook if codebook is not None
            else _seed_cells(v, self.id_col, self.vec_col, self.n_cells),
            self.centroids_path, n_files=1,
        )
        cents = self._centroids(spark)
        # emptiness check AFTER the write, against the materialized
        # file — one tiny file read that covers BOTH seed paths
        # without re-evaluating the caller's codebook plan (a
        # train_centroids plan would re-run its whole training
        # loop). An empty codebook would "succeed" into an index
        # that answers nothing, forever; unwrite it and fail loud.
        if cents is None or not cents.limit(1).count():
            shutil.rmtree(self.centroids_path, ignore_errors=True)
            raise ValueError(
                f"{type(self).__name__} first ingest produced an empty "
                f"{self._coarse_name}"
                + (
                    ": the supplied codebook= has no rows."
                    if codebook is not None
                    else f": no batch ids satisfy {self.id_col} < "
                    f"{self.n_cells}. Pass an explicit codebook= "
                    "(e.g. train_centroids) when ids are not "
                    "0-based contiguous."
                )
            )
        return cents, True

    def stage(self, vectors: DataFrame, fence: dict | None = None, *,
              codebook=None, supplied=None):
        """Land one batch's cell rows and its drift-stats row:
        ``(stats, commit)``, or None when the streaming ``fence`` is
        already committed. The first batch freezes the codebook(s)
        (``codebook``/``supplied``, or trained on it). ``stats/``
        commits last, so its manifest version is the ingest count."""
        root = self._root()
        st = Staging.open(self._appended_paths(root), fence)
        if st is None:
            return None
        spark = vectors.sparkSession
        v = pin(self._prep(_corpus_norm(vectors, self.id_col, self.vec_col)))
        wrote = False
        try:
            cents, wrote = self._seed(spark, v, codebook)
            code = self._ingest_code(spark, v, supplied)
        except ValueError:
            # a failed first ingest unwrites what it wrote in this
            # call, so a later valid ingest on the same path succeeds
            if wrote:
                shutil.rmtree(self.centroids_path, ignore_errors=True)
            v.unpersist()
            raise
        self._land_cells(
            st, _cell_assign(v, broadcast(cents), self.id_col, 1), root, code
        )
        # drift instrumentation: one stats row per ingest against the
        # FROZEN codebook(s) — n and the floored-integer mean winning
        # cosine (plus, under PQ, the exact-integer self-ADC error):
        # the _drift_stats fragment ann_drift_probe certifies. A
        # distribution that drifts from the training batch lands
        # farther from every centroid and the cosine falls — the
        # measured rebuild trigger for the documented frozen-codebook
        # trade-off.
        m = read_manifest(f"{root}/stats")
        stats = st.land(
            self._stats(
                v, _collect_codebook(cents), code,
                (m["version"] if m else 0) + 1,
            ),
            f"{root}/stats",
        )
        v.unpersist()
        return stats, st.commit

    def compact(self, spark, *, files_per_cell: int = 1) -> None:
        """Rewrite the per-cell tables coalesced per cell directory —
        every :meth:`ingest` appends part files into each ``__cell=``
        dir, so a long-lived index pays file-listing overhead per
        query. The partition layout (and so probed-cell pruning) is
        preserved. The distinct fold makes the query's tolerance for a
        replayed ingest (which re-appends value-identical rows)
        durable. A torn commit is undone first: compaction rewrites the
        last segment that undo drops. Exclusive access required (no
        concurrent reader mid-query, no concurrent ingest) — see
        :func:`~streamtasks_spark.llmdata.dedup.compact_table`."""
        root = self._root()
        Staging.open(self._appended_paths(root))
        for t in self._cell_tables:
            compact_table(
                spark, f"{root}/{t}",
                files=files_per_cell, partition_by="__cell",
                transform=lambda df: df.distinct(),
            )

    def drift_report(self, spark) -> DataFrame:
        """Per-ingest assignment quality vs the frozen codebook(s), with
        the drops against the FIRST ingest (the training distribution)
        as the rebuild-trigger columns: (ingest_id, n, mean_win_cosine,
        win_cos_drop) — and, for a PQ-coded index, mean_adc_err after
        mean_win_cosine and adc_err_rise last. Ingest-count-sized; the
        single-partition window is bounded by ingest COUNT, never data
        volume."""
        st = snapshot_read(spark, self.stats_path)
        if st is None:
            raise ValueError(
                f"{type(self).__name__} at {self.path} has no drift "
                "stats yet"
            )
        w = (
            Window.orderBy("ingest_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        adc = "mean_adc_err" in st.columns
        return st.select(
            "ingest_id", "n", "mean_win_cosine",
            *(["mean_adc_err"] if adc else []),
            (
                F.first("mean_win_cosine").over(w)
                - F.col("mean_win_cosine")
            ).alias("win_cos_drop"),
            *(
                [
                    (
                        F.col("mean_adc_err")
                        - F.first("mean_adc_err").over(w)
                    ).alias("adc_err_rise")
                ]
                if adc else []
            ),
        )

    def rebuild(self, spark, *, coarse_iters: int = 3) -> dict:
        """Retrain the codebook(s) on everything ingested (full
        spherical k-means for the coarse one now, not first-batch
        seeding) and re-assign / re-encode every vector — the action
        :meth:`drift_report`'s trigger exists to fire. The index
        stores the exact vectors (``cells/``, a PQ index's
        ``vectors/``), so no external corpus re-read; value-identical
        duplicate rows of a replayed ingest fold here (dropDuplicates
        on id).

        Crash safety: the new index — codebooks, re-assigned cells and
        a fresh stats baseline measured against the NEW books — stages
        as a complete new EPOCH directory and commits with the index
        root's single atomic manifest flip: a crash anywhere before
        the flip leaves the old epoch fully live (the staged one is an
        invisible orphan, swept by the next commit), and there is no
        window where assignments or codes and codebooks mix epochs.
        Exclusive access required (the compact contract).

        Returns the measured effect, computed with the same
        :func:`_drift_stats` fragment the stats rows use: ``{"n",
        "before_win_cosine", "after_win_cosine"}``, plus
        ``"before_adc_err", "after_adc_err"`` under PQ."""
        idc = self.id_col
        table, vcol, ncol = self._raw
        old_root = self._root()
        Staging.open(self._appended_paths(old_root))  # undo a torn commit
        raw = snapshot_read(spark, f"{old_root}/{table}")
        if raw is None:
            raise ValueError(f"{type(self).__name__} at {self.path} has no data")
        old_cb = _collect_codebook(self._centroids(spark))
        old_code = self._load_code(spark)
        vecs = pin(
            self._prep(
                raw.dropDuplicates([idc]).select(
                    F.col(idc),
                    F.col(vcol).alias("__v"),
                    F.col(ncol).alias("__nrm"),
                )
            )
        )
        cents_df = train_centroids(
            vecs.select(F.col(idc), F.col("__v").alias(self.vec_col)),
            id_col=idc, vec_col=self.vec_col,
            n_cells=self.n_cells, n_iters=coarse_iters,
        )
        new_cb = _collect_codebook(cents_df)
        try:
            new_code = self._retrain_code(vecs)
        except ValueError:
            vecs.unpersist()
            raise
        before = self._stats(vecs, old_cb, old_code, 0).collect()[0]
        after = self._stats(vecs, new_cb, new_code, 0).collect()[0]
        # stage the complete new epoch, invisible until the flip
        seg, epoch = new_segment(self.path)
        replace_write(cents_df, f"{epoch}/centroids", n_files=1)
        self._write_code(spark, new_code, epoch)
        st = Staging(self._appended_paths(epoch))
        self._land_cells(
            st,
            vecs.withColumn(
                "__cell", F.expr(_argmax_cell_expr(new_cb)).cast("int")
            ),
            epoch, new_code,
        )
        st.land(self._stats(vecs, new_cb, new_code, 1), f"{epoch}/stats")
        st.commit()
        vecs.unpersist()
        commit_segments(self.path, [seg])  # THE flip; also GC's an old
        # epoch directory (it is an unreferenced seg_* sibling)
        if old_root == self.path:
            # pre-epoch layout: the legacy tables live directly under
            # the root and are not seg_* dirs, so sweep them explicitly
            for t in self._tables:
                shutil.rmtree(f"{self.path}/{t}", ignore_errors=True)
        effect = {
            "n": int(after["n"]),
            "before_win_cosine": float(before["mean_win_cosine"]),
            "after_win_cosine": float(after["mean_win_cosine"]),
        }
        if new_code is not None:
            effect["before_adc_err"] = float(before["mean_adc_err"])
            effect["after_adc_err"] = float(after["mean_adc_err"])
        return effect

    def _probe(
        self, queries: DataFrame, n_probe: int | None
    ) -> tuple[DataFrame, list]:
        """The query prune: each query's ``n_probe`` nearest cells
        under the stored codebook (the ivf stage's query side), and the
        probed cell ids — bounded by the codebook size (ENFORCED) —
        which :meth:`_read_probed` pushes into every table scan as a
        literal IN filter on the partition column, so query cost
        follows probed-cell volume, not corpus size. No persist of the
        assignment: a serving process calls query() repeatedly, and
        pinned query-assignments would accumulate until session end;
        the broadcast-codebook projection over the small query batch
        is recomputed once for the probed collect and once in the
        result plan, cheaper than a leak."""
        cents = self._centroids(queries.sparkSession)
        if cents is None:
            raise ValueError(f"{type(self).__name__} at {self.path} has no data")
        q = _cell_assign(
            self._prep(
                _query_norm(queries, self.id_col, self.vec_col), query=True
            ).select("query_id", "__v", "__nrm", *self._q_carry),
            broadcast(cents), "query_id",
            self.n_probe if n_probe is None else n_probe,
        )
        probed = [
            r["__cell"]
            for r in bounded_collect(
                q.select("__cell").distinct(), self.n_cells,
                f"{type(self).__name__} probed cells",
            )
        ]
        return q, probed

    def _read_probed(self, spark, table: str, probed: list) -> DataFrame:
        path = f"{self._root()}/{table}"
        df = snapshot_read(spark, path, base_path=path)
        if df is None:
            # ingest commits every other table before cells/, so a
            # table missing under live centroids is an index that
            # holds nothing yet — or a damaged one; fail loudly
            raise ValueError(
                f"{type(self).__name__} at {self.path} has no data "
                f"(no {table}/ table)"
            )
        return df.filter(F.col("__cell").isin(probed))


class IvfIndex(_IvfLifecycle):
    """Persistent IVF ANN index — the serving shape of :func:`ivf_topk`:
    build the index once (or in increments), answer top-k queries
    against the stored cells without re-reading or re-assigning the
    vector corpus.

    On-disk layout under ``path``:

      ``centroids/`` — the coarse codebook (cell id, vector, norm).
        Written by the FIRST ingest from the batch's vectors with
        ``id_col < n_cells`` — the identical filter :func:`ivf_topk`
        uses for its default seeding, so a one-shot build answers
        queries identically to it (both degrade identically when ids
        are not 0-based contiguous; pass a trained codebook then). Later
        ingests REUSE the stored codebook (production IVF semantics:
        the codebook is trained once on a sample, then frozen; a
        k-means-trained table drops into the same files).
      ``cells/`` — vectors partitioned BY CELL on disk
        (``__cell=<id>/``): a query probing ``n_probe`` cells
        collects its probed cell ids (bounded by the codebook size,
        driver-safe) and pushes them as a partition filter, so the
        scan reads ONLY the probed directories — query cost follows
        probed-cell volume, not corpus size.
      ``stats/`` — one drift row per ingest (:meth:`drift_report`).

    After a :meth:`rebuild` the tables live inside an epoch directory
    (see :class:`_IvfLifecycle`). Reads are snapshot-isolated against
    concurrent appends via
    :func:`~streamtasks_spark.llmdata.dedup.snapshot_read`.
    """

    def ingest(
        self, vectors: DataFrame, *, codebook: DataFrame | None = None
    ) -> None:
        """Assign a batch to cells and append it to the index. The
        first ingest writes the codebook — either the supplied
        ``codebook`` (columns __cell/__cv/__cn, e.g. from
        :func:`train_centroids`) or the batch's vectors with
        ``id_col < n_cells`` — the SAME filter :func:`ivf_topk` uses
        for its default seeding, so index answers match the one-shot
        function whenever the first batch contains those ids. (With
        non-zero-based ids, supply an explicit codebook: both the
        one-shot and the index would otherwise see fewer than
        ``n_cells`` seed vectors.) Later ingests always reuse the
        stored codebook. :meth:`stage` then the commit."""
        _, commit = self.stage(vectors, codebook=codebook)
        commit()

    def query(
        self, queries: DataFrame, *, k: int = 5, n_probe: int | None = None
    ) -> DataFrame:
        """Exact top-k within the probed cells. Output matches
        :func:`ivf_topk` (query_id, vec_id, cosine, rank) when the
        index was built from the same vectors and codebook seeding.
        Ranks distinct ids only, so the value-identical rows a replayed
        ingest re-appends change no answer."""
        q, probed = self._probe(queries, n_probe)
        return _search(
            self._read_probed(queries.sparkSession, "cells", probed), q,
            _raw_code(), id_col=self.id_col, k=k, key="__cell",
            distinct=True,
        )


class IvfPqIndex(_IvfLifecycle):
    """Persistent PQ-coded IVF ANN index — the serving shape of
    :func:`ivf_pq_topk`, and the storage answer :class:`IvfIndex`
    leaves open: at 100 TB the index IS the storage problem, and
    keeping raw float vectors per cell means the scan cost of a probe
    is the corpus's float payload. Here a probed cell stores only
    ``(id, codes)`` — ``m_sub`` small ints per vector, the 32×
    compression of :func:`pq_topk` — so the ADC scan over probed
    cells touches code-sized rows, and exact math runs only on the
    ``rerank·k`` survivors fetched from a raw-vector side table.

    On-disk layout under ``path``:

      ``centroids/`` — the coarse codebook (``__cell, __cv, __cn``),
        exactly :class:`IvfIndex`'s: written by the FIRST ingest from
        the supplied ``codebook`` or the batch's ``id_col < n_cells``
        rows (the :func:`ivf_pq_topk` seeding), frozen thereafter.
      ``pq_codebook/`` — the frozen PQ codebooks as rows
        (``__m, __j, __cv array<double>``), trained by the FIRST
        ingest via :func:`_pq_codebooks` on that batch's normalized
        vectors (the non-residual variant: one codebook set shared
        across cells — what lets codes stay valid across cell
        migrations and the oracle re-derive training; the residual
        formulation exists as the one-shot :func:`ivf_pq_res_topk`,
        whose measured recall gain :func:`recall_probe`'s seventh
        rung prices against exactly this re-encode coupling). Doubles
        round-trip parquet exactly, and the int grid is a pure
        function of them, so a reloaded codebook encodes
        bit-identically to the training session's.
      ``cells/`` — ``__cell=<id>/`` partition dirs of
        ``(id, __codes array<int>)`` — the compressed scan payload; a
        query's probed-cell filter prunes every other directory out
        of the scan (the :class:`IvfIndex` partition-pruning
        contract, now over 32×-smaller rows).
      ``vectors/`` — ``__cell=<id>/`` partition dirs of
        ``(id, __av array<double>, __anrm)`` — the raw side table the
        exact re-rank fetches from. It is read ONLY for candidate
        survivors: the probed-cell filter bounds which directories
        are listed, and the join against the rerank·k candidate set
        bounds which rows are touched.
      ``stats/`` — one drift row per ingest:
        ``(ingest_id, n, mean_win_cosine, mean_adc_err)`` measured
        against the frozen codebooks; :meth:`drift_report` turns it
        into the rebuild-trigger view.

    After a :meth:`rebuild`, all five tables live inside an EPOCH
    directory (``seg_*/``) named by a manifest at the index root (see
    :class:`_IvfLifecycle`); a never-rebuilt index keeps the flat
    layout above.

    One-shot equivalence (pinned in tests): an index built by a
    single :meth:`ingest` of a corpus with default seeding answers
    :meth:`query` identically to :func:`ivf_pq_topk` over the same
    corpus and parameters — same coarse assignment, same codebooks
    (trained on the same rows with the same seeds), same integer ADC
    candidate order, same exact re-rank. Incremental ingests reuse
    both frozen codebooks (production semantics; answers then reflect
    codebooks trained on the first batch, the documented IVF drift
    trade-off).

    Reads are snapshot-isolated against concurrent appends via
    :func:`~streamtasks_spark.llmdata.dedup.snapshot_read`; ingest
    requires a single owner (the MinHashIndex discipline)."""

    _tables = ("centroids", "pq_codebook", "cells", "vectors", "stats")
    _appended = ("vectors", "cells", "stats")
    _cell_tables = ("cells", "vectors")
    _raw = ("vectors", "__av", "__anrm")
    _coarse_name = "coarse codebook"
    _q_carry = ("__qi",)

    def __init__(
        self,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        n_cells: int = 8,
        n_probe: int = 2,
        m_sub: int = 8,
        n_codes: int = 8,
        n_iters: int = 2,
        rerank: int = 4,
    ) -> None:
        if dim % m_sub:
            raise ValueError(
                f"IvfPqIndex: dim {dim} not divisible by m_sub {m_sub}"
            )
        super().__init__(
            path, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            n_probe=n_probe,
        )
        self.dim = dim
        self.m_sub = m_sub
        self.n_codes = n_codes
        self.n_iters = n_iters
        self.rerank = rerank
        self._code: tuple | None = None  # (manifest key, codebooks)

    @property
    def pq_codebook_path(self) -> str:
        return f"{self._root()}/pq_codebook"

    @property
    def vectors_path(self) -> str:
        return f"{self._root()}/vectors"

    # -- the pq code ----------------------------------------------------

    def _prep(self, df: DataFrame, query: bool = False) -> DataFrame:
        op = "IvfPqIndex.query" if query else "IvfPqIndex.ingest"
        return _pq_prep(df, self.dim, op, query=query)

    def _load_code(self, spark) -> tuple[dict, dict] | None:
        """Reload the frozen PQ codebooks as the (cents, cint) pair
        the encoding/scoring expressions consume. The pull is cached
        on the index, keyed by the codebook table's path and manifest:
        a :meth:`rebuild` commits a new epoch, so its codebook table
        has another path and is read afresh."""
        path = self.pq_codebook_path
        m = read_manifest(path)
        key = (path, m and (m["version"], *m["segments"]))
        if self._code is not None and self._code[0] == key:
            return self._code[1]
        df = snapshot_read(spark, path)
        if df is None:
            return None
        cents: dict[int, dict[int, list[float]]] = {}
        # ≤ m_sub·n_codes rows (stored codebook): bound ENFORCED
        for r in bounded_collect(
            df, self.m_sub * self.n_codes, "IvfPqIndex pq_codebook"
        ):
            cents.setdefault(r["__m"], {})[r["__j"]] = list(r["__cv"])
        self._code = (key, (cents, _pq_grid(cents)))
        return self._code[1]

    def _ingest_code(self, spark, v: DataFrame, supplied):
        cb = self._load_code(spark)
        if cb is not None:
            return cb
        try:
            cb = supplied if supplied is not None else _pq_codebooks(
                v, self.id_col, self.dim, self.m_sub, self.n_codes,
                self.n_iters,
            )
            if not cb[0]:
                raise ValueError("the batch has no usable vectors")
        except ValueError as e:
            raise ValueError(
                f"IvfPqIndex first ingest could not train PQ "
                f"codebooks: {e}. Pass pq_codebooks= (from "
                f"train_pq_codebooks over a training corpus) when "
                f"ids are not 0-based contiguous."
            ) from e
        self._write_code(spark, cb, self._root())
        return self._load_code(spark)

    def _retrain_code(self, vecs: DataFrame) -> tuple[dict, dict]:
        cb = _pq_codebooks(
            vecs, self.id_col, self.dim, self.m_sub, self.n_codes,
            self.n_iters,
        )
        if not cb[0]:
            raise ValueError(
                "IvfPqIndex.rebuild could not train PQ codebooks — no "
                "usable seed vectors in the raw table"
            )
        return cb

    def _write_code(self, spark, cb: tuple[dict, dict], root: str) -> None:
        cents = cb[0]
        replace_write(
            spark.createDataFrame(
                [(m, j, cents[m][j]) for m in sorted(cents)
                 for j in sorted(cents[m])],
                "__m int, __j int, __cv array<double>",
            ),
            f"{root}/pq_codebook", n_files=1,
        )

    def _land_cells(self, st: Staging, assigned: DataFrame, root: str,
                    cb) -> None:
        """Encode ``assigned`` with the pq code's corpus projection and
        land raw vectors and codes. :attr:`_appended` commits RAW
        VECTORS FIRST: query()'s exact re-rank inner-joins candidates
        (from cells/) against raw rows (from vectors/), so the
        crash-safe order is the dependency order — an orphan raw row
        no code row references is unreachable and harmless, while a
        code row with no raw counterpart would silently drop ADC
        candidates from top-k."""
        idc = self.id_col
        enc = pin(
            _pq_code(cb, self.dim, self.m_sub, self.rerank).corpus(
                assigned, idc, "__cell"
            )
        )
        st.land(
            enc.select(idc, "__av", "__anrm", "__cell"),
            f"{root}/vectors", partition_by="__cell",
        )
        st.land(
            enc.select(idc, "__codes", "__cell"),
            f"{root}/cells", partition_by="__cell",
        )
        enc.unpersist()

    def _stats(self, v: DataFrame, cb: dict, code, ingest_id) -> DataFrame:
        return _drift_stats(
            v, cb, code, batch_expr=F.lit(ingest_id), dim=self.dim,
            m_sub=self.m_sub,
        ).withColumnRenamed("batch_id", "ingest_id")

    # -- api --------------------------------------------------------------

    def ingest(
        self,
        vectors: DataFrame,
        *,
        codebook: DataFrame | None = None,
        pq_codebooks: tuple[dict, dict] | None = None,
    ) -> None:
        """Assign a batch to cells, PQ-encode it, and append codes +
        raw vectors. The first ingest freezes BOTH codebooks — the
        coarse one per :class:`IvfIndex`'s contract (supplied
        ``codebook`` or the batch's ``id_col < n_cells`` rows) and
        the PQ one: the supplied ``pq_codebooks`` (from
        :func:`train_pq_codebooks` over a training corpus — the
        production shape, and what makes an incremental build answer
        identically to the one-shot ivf × pq pipeline fed the same
        codebooks) or, by default, codebooks trained on this batch's
        normalized vectors with the :func:`pq_topk` seeding
        (``id_col < n_codes``). Later ingests reuse both. A first
        ingest that cannot produce either codebook fails loudly and
        unwrites whatever it wrote in this call. :meth:`stage` then
        the commit."""
        _, commit = self.stage(
            vectors, codebook=codebook, supplied=pq_codebooks
        )
        commit()

    def query(
        self,
        queries: DataFrame,
        *,
        k: int = 5,
        n_probe: int | None = None,
        rerank: int | None = None,
    ) -> DataFrame:
        """ADC scan over the probed cells' CODE rows, exact re-rank
        over only the ``rerank·k`` survivors' raw vectors. Output
        matches :func:`ivf_pq_topk` (query_id, id, cosine, approx,
        rank) when the index was one-shot-built from the same corpus
        and parameters. Ranks distinct ids only: the value-identical
        code rows a replayed ingest re-appends tie and share one
        candidate slot, and their raw-side twins collapse before the
        re-rank."""
        spark = queries.sparkSession
        idc = self.id_col
        cb = self._load_code(spark)
        if cb is None:
            raise ValueError(f"IvfPqIndex at {self.path} has no data")
        q, probed = self._probe(queries, n_probe)
        code = _pq_code(
            cb, self.dim, self.m_sub,
            self.rerank if rerank is None else rerank,
        )
        cand = _candidates(
            self._read_probed(spark, "cells", probed),
            code.query(q, "__cell"), code, idc, "__cell",
            code.rerank * k, "__cr", distinct=True,
        ).select("query_id", idc, "__cell", "__is", "__qv", "__qnrm")
        raw = self._read_probed(spark, "vectors", probed).select(
            idc, "__cell", "__av", "__anrm"
        )
        # cand is rerank·k-bounded per query — broadcast it so the
        # partition-pruned raw side table is scanned, never shuffled
        return _rerank(
            broadcast(cand).join(raw, [idc, "__cell"])
            .dropDuplicates(["query_id", idc]),
            idc, k, code.approx,
        )


# ---------------------------------------------------- trained codebook

def _km_assign_py(
    vv: list[float], nrm: float, cents: dict[int, list[float]],
    order: list[int], cns: dict[int, float],
) -> int:
    """Pure-Python twin of train_centroids' argmax comparator: max
    cosine by IEEE left-to-right fold (≡ the JVM ``aggregate``), NULL
    (ragged ``zip_with``) smallest, NaN greatest, ties to the LOWEST
    cell — exactly Spark's ``array_max`` over (s, -cell) structs."""
    best = None
    for c in order:
        cv = cents[c]
        if len(vv) != len(cv):
            k = (0, 0, 0.0, -c)  # NULL score: zip_with pads → null
        else:
            dot = 0.0
            for x, y in zip(vv, cv):
                dot = dot + x * y
            s = dot / (nrm * cns[c])
            k = (1, 1, 0.0, -c) if s != s else (1, 0, s, -c)
        if best is None or k > best:
            best = k
    return -best[3]


def _kmeans_fit_local(
    rows, id_col: str, n_cells: int, n_iters: int
) -> dict[int, list[float]]:
    """Driver-local twin of train_centroids' distributed Lloyd loop —
    bit-identical by construction: the pulled (__v, __nrm) doubles are
    the exact values the distributed assignment would see (the literal
    codebooks round-trip through ``repr``), the cosine argmax
    reproduces the ``array_max``-over-structs comparator, and the
    clamped micro-unit component sums are exact int64/Python ints ≡
    the DECIMAL(38,0) sums, fed through the SAME driver-side update
    arithmetic.

    The assignment vectorizes over (rows, cells), looping the fold
    over components so each scalar's rounding order stays
    left-to-right; ``np.argmax`` ties to the FIRST (lowest) cell and
    treats NaN as greatest — both exactly the struct comparator, so
    (unlike the PQ argmin) no NaN guard is needed. Ragged corpora and
    numpy-less deployments take the scalar twin."""
    data = [(r[0], list(r[1]), r[2]) for r in rows]
    seeds = [(i, vv) for i, vv, _ in data if i is not None and i < n_cells]
    if len(seeds) > n_cells:
        raise _bound_error("train_centroids seeds", n_cells)
    cents = {i: list(vv) for i, vv in seeds}
    if not cents:
        raise ValueError(
            "train_centroids: no nonzero-norm vectors with "
            f"{id_col} < {n_cells} to seed the codebook — pass a "
            "pre-trained centroids table or re-id the corpus"
        )
    np = None
    dims = {len(vv) for _, vv, _ in data}
    if len(dims) == 1:
        try:
            import numpy
            np = numpy
        except ImportError:
            np = None
    V = MI = NRM = None
    if np is not None:
        dim = dims.pop()
        V = np.array([vv for _, vv, _ in data], dtype=np.float64)
        NRM = np.array([nrm for _, _, nrm in data], dtype=np.float64)
        MI = np.floor(
            np.clip(V, -1048576.0, 1048576.0) * 1048576.0
        ).astype(np.int64)
    for _ in range(n_iters):
        order = sorted(cents)
        cns = {c: math.sqrt(sum_lr(x * x for x in cents[c]))
               for c in order}
        new: dict[int, dict[int, float]] = {}
        if np is not None and all(len(cents[c]) == dim for c in order):
            C = np.array([cents[c] for c in order], dtype=np.float64)
            CN = np.array([cns[c] for c in order], dtype=np.float64)
            dots = np.zeros((len(data), len(order)), dtype=np.float64)
            for d in range(dim):
                dots = dots + V[:, d, None] * C[None, :, d]
            s = dots / (NRM[:, None] * CN[None, :])
            assign = np.argmax(s, axis=1)
            for pos, c in enumerate(order):
                sel = MI[assign == pos]
                if len(sel):
                    ssum = sel.sum(axis=0)
                    new[c] = {
                        d: float(int(ssum[d])) / (1048576.0 * len(sel))
                        for d in range(dim)
                    }
        else:
            sums: dict[tuple[int, int], int] = {}
            cnts: dict[tuple[int, int], int] = {}
            for _i, vv, nrm in data:
                c = _km_assign_py(vv, nrm, cents, order, cns)
                for d, x in enumerate(vv):
                    mi = int(math.floor(
                        max(-1048576.0, min(1048576.0, x)) * 1048576
                    ))
                    key = (c, d)
                    sums[key] = sums.get(key, 0) + mi
                    cnts[key] = cnts.get(key, 0) + 1
            for (c, d), sm in sums.items():
                new.setdefault(c, {})[d] = float(sm) / (
                    1048576.0 * cnts[(c, d)]
                )
        for c, comps in new.items():
            cents[c] = [comps[d] for d in sorted(comps)]
    return cents


def train_centroids(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_iters: int = 3,
    expect_dim: int | None = None,
) -> DataFrame:
    """Deterministic spherical k-means codebook for the IVF tier:
    fixed-count Lloyd iterations (assign by cosine, recompute centroids
    as the element-wise mean of assigned vectors).

    Bit-determinism is the point — a naive double sum across an
    aggregation is order-dependent, so the same data could train a
    different codebook per run (and per engine). Here each component is
    clamped to ±2^20 (degenerate magnitudes carry no direction
    information a codebook needs; unclamped, one 1e30 component
    overflows the integer sum — found by the embedding fuzz tier) and
    floored to 2^-20 integer micro-units BEFORE summing, and the sum
    runs in DECIMAL(38,0) (exact and associative like the integers,
    but safe for ≥1e25 rows per cell where a BIGINT sum would overflow
    at corpus scale). The mean (exact integer sum / (2^20 · count)) is
    then identical regardless of partitioning — and identical in
    DuckDB (whose sum(BIGINT) is HUGEINT-exact), giving the full
    training loop an exact oracle (:func:`oracle_ivf_trained_sql`). Seeding = the ``n_cells``
    lowest-id vectors (same as :func:`ivf_topk`'s default codebook);
    a cell left empty by an iteration keeps its previous centroid.

    Scale: the codebook is SCALAR-SIZED (n_cells × dim doubles), so it
    lives on the driver between iterations — the same legitimacy class
    as a broadcast scalar-aggregate attach. Each iteration is then one
    NARROW assignment projection (the codebook inlined as literal
    arrays, argmax as an array_max over (score, -cell) structs — no
    crossJoin, no window, no shuffle) plus one groupBy(cell, dim)
    aggregation whose output is again codebook-sized. Corpus size
    enters only linearly, through the narrow pass.
    """
    v = _with_norm(spread(vectors, id_col).select(id_col, vec_col), vec_col)
    if expect_dim is not None:
        # training itself is dim-agnostic (the codebook takes the
        # data's shape), but a DuckDB oracle built for a specific dim
        # (oracle_ivf_trained_sql) silently diverges on any other —
        # callers coupling the two pass the oracle's dim here
        v = _require_dim(v, expect_dim, "train_centroids")
    v = v.select(id_col, "__v", "__nrm")
    if _ANN_MAX_LOCAL_TRAIN > 0:
        # corpora at or under the gate: ONE limit(bound+1) pull
        # (driver-safe whatever the true corpus size), then the whole
        # Lloyd loop in-process with zero further jobs — bit-identical
        # to the distributed loop below (see _kmeans_fit_local). Above
        # the gate (any 100 TB corpus) the pull is one wasted narrow
        # job and training stays distributed.
        pulled = v.limit(_ANN_MAX_LOCAL_TRAIN + 1).collect()
        if len(pulled) <= _ANN_MAX_LOCAL_TRAIN:
            cents = _kmeans_fit_local(pulled, id_col, n_cells, n_iters)
            return vectors.sparkSession.createDataFrame(
                [
                    (cell, cv, math.sqrt(sum_lr(x * x for x in cv)))
                    for cell, cv in sorted(cents.items())
                ],
                "__cell long, __cv array<double>, __cn double",
            )
    v = pin(v)
    # ≤ n_cells rows (bound ENFORCED — exceeding it means duplicate
    # ids below n_cells, a mis-id'd corpus)
    seed = bounded_collect(
        v.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).alias("__cell"), "__v"),
        n_cells, "train_centroids seeds",
    )
    # cell -> component list; repr() round-trips doubles exactly, so the
    # inlined literals are bit-identical to the driver values
    cents: dict[int, list[float]] = {r["__cell"]: list(r["__v"]) for r in seed}
    if not cents:
        # every id < n_cells is NULL/zero-norm (possible on adversarial
        # corpora): an empty codebook would otherwise surface as a
        # malformed argmax expression (Spark) vs silently-empty output
        # (a SQL twin) — the worst kind of asymmetry. Fail loudly.
        raise ValueError(
            f"train_centroids: no nonzero-norm vectors with {id_col} < "
            f"{n_cells} to seed the codebook — pass a pre-trained "
            f"centroids table or re-id the corpus"
        )

    def lit_arr(xs: list[float]) -> str:
        return "array(" + ", ".join(f"{x!r}D" for x in xs) + ")"

    for _ in range(n_iters):
        structs = []
        for cell in sorted(cents):
            cv = cents[cell]
            cn = math.sqrt(sum_lr(x * x for x in cv))
            dot = _dot("__v", lit_arr(cv))
            structs.append(
                f"named_struct('s', ({dot}) / (__nrm * {cn!r}D), "
                f"'c', {-cell})"
            )
        argmax = f"-array_max(array({', '.join(structs)})).c"
        assigned = v.withColumn("__cell", F.expr(argmax))
        rows = (
            assigned.select(
                "__cell",
                F.posexplode(
                    F.expr(
                        "transform(__v, x -> cast(floor("
                        "greatest(-1048576.0D, least(1048576.0D, x))"
                        " * 1048576) as bigint))"
                    )
                ).alias("__d", "__m"),
            )
            .groupBy("__cell", "__d")
            .agg(
                F.sum(F.col("__m").cast("decimal(38,0)")).alias("__s"),
                F.count(F.lit(1)).alias("__c"),
            )
        )
        # ≤ n_cells·dim rows (codebook-class): bound ENFORCED; dim is
        # read off the seeds since training is dim-agnostic
        rows = bounded_collect(
            rows,
            n_cells * max(len(cv) for cv in cents.values()),
            "train_centroids per-component means",
        )
        new: dict[int, dict[int, float]] = {}
        for r in rows:
            new.setdefault(r["__cell"], {})[r["__d"]] = float(r["__s"]) / (
                1048576.0 * r["__c"]
            )
        for cell, comps in new.items():
            cents[cell] = [comps[d] for d in sorted(comps)]
        # cells absent from `new` keep their previous centroid
    v.unpersist()  # training is a build step; don't leak the pin
    spark = vectors.sparkSession
    out = [
        (cell, cv, math.sqrt(sum_lr(x * x for x in cv)))
        for cell, cv in sorted(cents.items())
    ]
    return spark.createDataFrame(
        out, "__cell long, __cv array<double>, __cn double"
    )


def sum_lr(it) -> float:
    """Left-to-right float sum (NOT math.fsum): matches the Spark
    ``aggregate`` fold and DuckDB ``list_sum`` exactly."""
    acc = 0.0
    for x in it:
        acc = acc + x
    return acc


def _duck_kmeans_ctes(
    dim: int, n_cells: int, n_iters: int, id_col: str
) -> tuple[str, str]:
    """DuckDB CTE chain reproducing :func:`train_centroids` exactly
    (same micro-unit integer sums, same tie-breaks). Returns
    (cte_sql_fragment, final_cte_name); expects an ``n`` CTE with
    ({id_col}, __v, __nrm) in scope."""
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    parts = [
        f"c0 AS (SELECT {id_col} AS __cell, __v AS __cv, __nrm AS __cn "
        f"FROM n WHERE {id_col} < {n_cells})"
    ]
    for t in range(n_iters):
        parts.append(f"""a{t} AS (
      SELECT x.{id_col}, x.__v, c.__cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM n x, c{t} c
      QUALIFY cr = 1
    )""")
        parts.append(f"""s{t} AS (
      SELECT __cell, d.i AS __d,
        sum(CAST(floor(greatest(-1048576.0, least(1048576.0, a.__v[d.i]))
                       * 1048576) AS BIGINT)) AS __s,
        count(*) AS __c
      FROM a{t} a CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) d
      GROUP BY 1, 2
    )""")
        parts.append(f"""m{t} AS (
      SELECT __cell,
        list(CAST(__s AS DOUBLE) / (1048576.0 * CAST(__c AS DOUBLE))
             ORDER BY __d) AS __cv
      FROM s{t} GROUP BY __cell
    )""")
        cv = "coalesce(m.__cv, p.__cv)"
        parts.append(f"""c{t + 1} AS (
      SELECT p.__cell, {cv} AS __cv,
        sqrt({_duck_dot(cv, cv, dim)}) AS __cn
      FROM c{t} p LEFT JOIN m{t} m USING (__cell)
    )""")
    return ",\n    ".join(parts), f"c{n_iters}"


def oracle_ivf_trained_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 3,
    n_probe: int = 2,
    k: int = 5,
) -> str:
    """DuckDB twin of k-means training + IVF top-k with the trained
    codebook — the full iterative algorithm, not just the final scan."""
    kmeans, final = _duck_kmeans_ctes(dim, n_cells, n_iters, id_col)
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    dot = _duck_dot("a.__v", "q.__v", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    {kmeans},
    assigned AS (
      SELECT x.{id_col}, x.__v, x.__nrm, c.__cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM n x, {final} c
      QUALIFY cr = 1
    ),
    probes AS (
      SELECT x.{id_col} AS query_id, x.__v, x.__nrm, c.__cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM n x, {final} c
      WHERE {query_filter.replace(id_col, "x." + id_col)}
      QUALIFY cr <= {n_probe}
    ),
    scored AS (
      SELECT q.query_id, a.{id_col},
             {dot} / (a.__nrm * q.__nrm) AS __cos
      FROM assigned a JOIN probes q ON a.__cell = q.__cell
      WHERE a.{id_col} <> q.query_id
    )
    SELECT query_id, {id_col}, round(__cos, 6) AS cosine,
           CAST(row_number() OVER w AS INT) AS rank
    FROM scored
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """

# ---------------------------------------------------- semantic dedup

def _argmax_cell_expr(cents: dict[int, tuple[list[float], float]]) -> str:
    """Spark SQL literal-argmax cell assignment over a driver-side
    codebook {cell: (vector, norm)} — the narrow (no-shuffle, no-join)
    assignment path shared by :func:`semantic_dedup` and
    :class:`SemDedupIndex`; same arithmetic and tie-break (max score,
    then LOWEST cell) as train_centroids' training iterations."""
    return f"-{_argmax_struct_expr(cents)}.c"


def _argmax_struct_expr(cents: dict[int, tuple[list[float], float]]) -> str:
    """The winning (score, -cell) struct behind
    :func:`_argmax_cell_expr` — exposed so :func:`cluster_profile` can
    read the winning COSINE alongside the cell from one evaluation
    (``.s`` is the cosine, ``-.c`` the cell). Renders byte-identical
    assignment SQL for the cell consumers."""
    if not cents:
        raise ValueError(
            "empty codebook: nothing to assign against (see "
            "train_centroids' seeding contract)"
        )

    def lit_arr(xs: list[float]) -> str:
        return "array(" + ", ".join(f"{x!r}D" for x in xs) + ")"

    structs = []
    for cell in sorted(cents):
        cv, cn = cents[cell]
        dot = _dot("__v", lit_arr(cv))
        structs.append(
            f"named_struct('s', ({dot}) / (__nrm * {cn!r}D), "
            f"'c', {-cell})"
        )
    return f"array_max(array({', '.join(structs)}))"


def _collect_codebook(
    cents_df: DataFrame,
    *,
    bound: int = 4096,
    what: str = "codebook",
) -> dict[int, tuple[list[float], float]]:
    """Codebook-sized driver pull of a (__cell, __cv, __cn) table.
    ``bound`` (ENFORCED) names the inlined-literal-expression practical
    ceiling — past a few thousand cells the assignment must become a
    broadcast join (the IvfIndex path), not a bigger literal."""
    return {
        int(r["__cell"]): (list(r["__cv"]), float(r["__cn"]))
        for r in bounded_collect(cents_df, bound, what)
    }


def cluster_profile(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_iters: int = 3,
    centroids: DataFrame | None = None,
    expect_dim: int | None = None,
) -> DataFrame:
    """Corpus clustering profile — the curation view behind
    SemDeDup/D4-style cluster-then-prune data selection (Abbas et al.
    2023; Tirumala et al. 2023): train the deterministic spherical
    k-means codebook (or take a frozen ``centroids`` table), assign
    every vector to its nearest centroid, and report ONE ROW PER
    CLUSTER — ``(cell, n_members, rep_id, avg_cos, min_cos)`` where
    ``rep_id`` is the lowest member id, ``avg_cos`` the mean cosine to
    the centroid (cluster tightness — loose clusters are where D4
    prunes hardest) and ``min_cos`` its worst member. A curation
    pipeline reads this table to pick per-cluster keep rates before
    running :func:`semantic_dedup` inside each cluster.

    Bit-exactness: assignment is the shared literal-argmax fragment
    (:func:`_argmax_struct_expr` — same arithmetic and lowest-cell
    tie-break as training); ``avg_cos`` accumulates as
    floored-1e-6-unit DECIMAL(38,0) integers so the per-cluster mean
    is partition-order-free (the bm25 discipline), then divides once.

    100 TB shape: training is the train_centroids codebook-sized
    driver loop; assignment + winning-cosine is ONE narrow projection
    (no join — the codebook rides as literals); the only shuffle is
    the ≤ n_cells-key rollup with map-side partial aggregation.

    ``expect_dim`` routes the loud :func:`train_centroids` dim guard
    through the training pass (the cluster_prune hook): a dim-64
    oracle against non-64 data would otherwise diverge SILENTLY —
    DuckDB's fixed-range dot truncates where Spark's data-derived dot
    uses the full vector (found live by the ``--dim`` fuzz axis);
    callers coupled to a
    fixed-dim oracle pass the oracle's dim. Training-side only, so the
    returned plan — and the certified manifest hash — is unchanged for
    well-dimensioned corpora; with a supplied frozen ``centroids`` the
    guard is the caller's job, as in cluster_prune."""
    cents_df = (
        centroids if centroids is not None
        else train_centroids(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            n_iters=n_iters, expect_dim=expect_dim,
        )
    )
    cb = _collect_codebook(cents_df)
    v = _with_norm(
        spread(vectors, id_col).select(id_col, vec_col), vec_col
    )
    best = F.expr(_argmax_struct_expr(cb))
    assigned = v.withColumn("__best", best).select(
        F.col(id_col),
        (-F.col("__best.c")).cast("int").alias("cell"),
        F.col("__best.s").alias("__cos"),
    )
    scale = "CAST(1000000 AS DOUBLE)"
    return (
        assigned.withColumn(
            "__sc",
            F.expr(f"CAST(floor(__cos * {scale}) AS DECIMAL(38,0))"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("rep_id"),
            F.sum("__sc").alias("__ssum"),
            F.min("__cos").alias("__mn"),
        )
        .select(
            "cell",
            "n_members",
            "rep_id",
            F.expr(
                f"CAST(__ssum AS DOUBLE) / (CAST(n_members AS DOUBLE) * "
                f"{scale})"
            ).alias("avg_cos"),
            F.round("__mn", 6).alias("min_cos"),
        )
    )


def oracle_cluster_profile_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 3,
) -> str:
    """DuckDB twin of :func:`cluster_profile` — the k-means CTE chain
    re-derives the codebook (never literal-injected), assignment keeps
    the winning cosine, and the per-cluster mean uses the same
    floored-integer scaled sum. ``min_cos`` carries the ``+ 0.0``
    signed-zero normalization: DuckDB's ``round`` keeps IEEE ``-0.0``
    for a tiny-negative cosine where Spark's BigDecimal round emits
    ``+0.0`` — a bit-only hash divergence the fuzz campaign found
    live at seed 31415 (the dedup_recall oracle set the precedent)."""
    kmeans, final = _duck_kmeans_ctes(dim, n_cells, n_iters, id_col)
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    {kmeans},
    assigned AS (
      SELECT x.{id_col}, c.__cell AS cell,
        {cdot} / (x.__nrm * c.__cn) AS __cos,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM n x, {final} c
      QUALIFY cr = 1
    ),
    sc AS (
      SELECT CAST(cell AS INT) AS cell, {id_col}, __cos,
        CAST(floor(__cos * CAST(1000000 AS DOUBLE)) AS DECIMAL(38,0))
          AS __sc
      FROM assigned
    )
    SELECT cell,
      CAST(count(*) AS BIGINT) AS n_members,
      CAST(min({id_col}) AS BIGINT) AS rep_id,
      CAST(sum(__sc) AS DOUBLE) / (CAST(count(*) AS DOUBLE) *
        CAST(1000000 AS DOUBLE)) AS avg_cos,
      round(min(__cos), 6) + 0.0 AS min_cos
    FROM sc GROUP BY cell
    """


def cluster_prune(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 3,
    rate_floor: float = 0.3,
    rate_ceil: float = 0.9,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """D4-style cluster-then-prune selection — the op that
    CONSUMES :func:`cluster_profile`'s per-cluster view and emits the
    per-document verdicts, completing the SemDeDup → profile → prune
    loop (Tirumala et al. 2023, "D4: Improving LLM Pretraining via
    Document De-Duplication and Diversification"): assign every vector
    to its nearest centroid, derive each cluster's KEEP RATE from its
    tightness, and keep the most DIVERSE members first. Output: one
    row per (nonzero-norm) vector — (``vec_id``, ``cell``,
    ``cosine``, ``cell_rank``, ``keep``).

    Keep-rate rule (the profile consumption): a cluster's
    ``keep_rate = rate_floor + (rate_ceil − rate_floor) ·
    (1 − avg_cos)``, clamped to ``[rate_floor, rate_ceil]`` (a cluster
    with negative mean cosine would otherwise exceed the band), with
    ``avg_cos`` computed exactly as
    :func:`cluster_profile` reports it (floored-1e-6-unit DECIMAL
    mean) — TIGHT clusters (high mean cosine = prototypical, redundant
    mass) prune hardest toward ``rate_floor``; LOOSE clusters keep up
    to ``rate_ceil``. ``n_keep = max(1, ceil(keep_rate · n_members))``
    (every cluster keeps ≥1 representative, the semantic_dedup
    always-keep-one invariant).

    Within-cluster ranking (the semantic_dedup determinism
    discipline): members rank by (floored-1e-6-unit cosine ASC, id
    ASC) — farthest-from-centroid first, the D4 prune-the-prototypes
    direction, with the integer-unit floor making the order — and
    therefore the kept SET — bit-reproducible cross-engine regardless
    of float tie noise; ``keep = cell_rank ≤ n_keep``.

    ``centroids`` takes a frozen codebook (the
    :func:`cluster_profile` hook), so a pipeline can train once and
    share the assignment across profile and prune.

    100 TB shape: assignment is the literal-codebook narrow
    projection (no join); the profile is a ≤ n_cells-key rollup with
    map-side combine, broadcast back; the rank is ONE window
    partitioned on the cell key — per-task work is bounded by cell
    population, which is the knob (the paper runs tens of thousands
    of clusters; n_cells scales with the corpus exactly as in
    :func:`semantic_dedup`)."""
    if not (0.0 <= rate_floor <= rate_ceil <= 1.0):
        raise ValueError(
            f"cluster_prune: need 0 <= rate_floor <= rate_ceil <= 1, "
            f"got ({rate_floor}, {rate_ceil})"
        )
    cents_df = (
        centroids if centroids is not None
        else train_centroids(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            n_iters=n_iters, expect_dim=dim,
        )
    )
    cb = _collect_codebook(cents_df)
    v = _require_dim(
        _with_norm(spread(vectors, id_col).select(id_col, vec_col), vec_col),
        dim, "cluster_prune",
    )
    best = F.expr(_argmax_struct_expr(cb))
    scale = "CAST(1000000 AS DOUBLE)"
    assigned = pin(
        v.withColumn("__best", best)
        .select(
            F.col(id_col),
            (-F.col("__best.c")).cast("int").alias("cell"),
            F.col("__best.s").alias("__cos"),
            F.expr(
                f"CAST(floor(__best.s * {scale}) AS DECIMAL(38,0))"
            ).alias("__cu"),
        )
    )
    rf, rc = float(rate_floor), float(rate_ceil)
    prof = (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__cu").alias("__ssum"),
        )
        .select(
            "cell",
            "__n",
            F.expr(
                f"CAST(__ssum AS DOUBLE) / (CAST(__n AS DOUBLE) * {scale})"
            ).alias("__avg"),
        )
        .select(
            "cell",
            "__n",
            # clamped to the documented [rate_floor, rate_ceil] band:
            # a cluster with NEGATIVE mean cosine (anti-aligned mass)
            # makes (1 - avg) exceed 1, which unclamped would push the
            # rate past rate_ceil (even past 1.0)
            F.expr(
                f"least(CAST({rc!r} AS DOUBLE), "
                f"greatest(CAST({rf!r} AS DOUBLE), "
                f"CAST({rf!r} AS DOUBLE) + "
                f"(CAST({rc!r} AS DOUBLE) - CAST({rf!r} AS DOUBLE)) * "
                f"(CAST(1 AS DOUBLE) - __avg)))"
            ).alias("__rate"),
        )
        .select(
            "cell",
            F.expr(
                "greatest(CAST(1 AS BIGINT), "
                "CAST(ceil(__rate * CAST(__n AS DOUBLE)) AS BIGINT))"
            ).alias("__nkeep"),
        )
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("__cu").asc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("cell_rank", F.row_number().over(w).cast("int"))
        .join(broadcast(prof), "cell")
        .select(
            F.col(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.round("__cos", 6).alias("cosine"),
            "cell_rank",
            (F.col("cell_rank") <= F.col("__nkeep")).alias("keep"),
        )
    )


def prune_cutoffs(pruned: DataFrame) -> list[tuple[int, float]]:
    """Freeze :func:`cluster_prune`'s verdicts into a per-cluster
    POLICY: ``(cell, cutoff)`` where ``cutoff`` is the kept set's
    maximum (6-dp rounded) cosine — the rank boundary as a pure
    threshold. Driver-small (≤ n_cells rows); feed it to
    :func:`cluster_prune_frozen` or the streaming twin."""
    # ≤ n_cells rows; 4096 is the literal-CASE practical ceiling the
    # frozen-policy consumer shares with _collect_codebook (ENFORCED)
    return [
        (int(r["cell"]), float(r["c"]))
        for r in bounded_collect(
            pruned.filter(F.col("keep"))
            .groupBy("cell").agg(F.max("cosine").alias("c")),
            4096, "prune_cutoffs",
        )
    ]


def cluster_prune_frozen(
    vectors: DataFrame,
    *,
    centroids: DataFrame,
    cutoffs: list[tuple[int, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Frozen-policy cluster pruning — the continuous-ingest
    form of :func:`cluster_prune`: profile + prune a REFERENCE corpus
    once, freeze the codebook and the per-cluster cosine cutoffs
    (:func:`prune_cutoffs`), then judge any vector against the frozen
    policy — keep iff its (6-dp) cosine to its assigned centroid is
    ≤ the cluster's cutoff (diverse survives, prototypical mass past
    the boundary drops; a cell with no cutoff row — nothing kept in
    the reference, impossible under cluster_prune's keep-≥1 — drops).

    Unlike the rank form, a verdict here is a PURE function of the
    vector and the policy — no within-cluster rank, so no dependence
    on what else is in the batch — which is exactly what lets it run
    under ``foreachBatch`` with per-batch appends unioning to the
    batch result bit-exactly (:func:`~streamtasks_spark.streaming.
    stateful.streaming_cluster_prune`), and why boundary TIES are
    kept: on the reference corpus itself the frozen keep-set is a
    superset of the rank form's that differs only where rounded
    cosines tie across the rank boundary.

    Output (``vec_id``, ``cell``, ``cosine``, ``keep``); assignment
    is the same narrow literal-argmax projection, the policy rides as
    a literal CASE — no join at all. Both literals share the inlined
    codebook's practical bound (a few hundred cells — the
    semantic_dedup scaled-cells note); past that, assignment and the
    cutoff attach as broadcast joins instead (the IvfIndex path)."""
    cb = _collect_codebook(centroids)
    v = _require_dim(
        _with_norm(spread(vectors, id_col).select(id_col, vec_col), vec_col),
        dim, "cluster_prune_frozen",
    )
    best = F.expr(_argmax_struct_expr(cb))
    cut = "CAST(NULL AS DOUBLE)"
    for cell, c in sorted(cutoffs):
        cut = f"CASE WHEN cell = {cell} THEN {c!r}D ELSE {cut} END"
    return (
        v.withColumn("__best", best)
        .select(
            F.col(id_col),
            (-F.col("__best.c")).cast("long").alias("cell"),
            F.round(F.col("__best.s"), 6).alias("cosine"),
        )
        .withColumn(
            "keep",
            F.coalesce(
                F.col("cosine") <= F.expr(cut), F.lit(False)
            ),
        )
    )


def cluster_prune_policy(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 3,
    rate_floor: float = 0.3,
    rate_ceil: float = 0.9,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """:func:`cluster_prune` plus the frozen-policy re-judgment in ONE
    PLAN: derive each cluster's cutoff (the kept set's max
    cosine — what :func:`prune_cutoffs` freezes) as a ≤ n_cells-row
    aggregate INSIDE the plan and re-judge every vector against it —
    the certified form of the policy semantics the streaming twin
    applies (:func:`cluster_prune_frozen` takes the cutoffs as
    literals; here they stay data, so the DuckDB oracle re-derives
    them instead of receiving them injected). Output (``vec_id``,
    ``cell``, ``cosine``, ``keep``) with ``keep`` the POLICY verdict:
    the rank form's keep-set closed under rounded-cosine boundary
    ties.

    100 TB shape: everything of cluster_prune's, plus one
    codebook-sized rollup broadcast back — no new wide work."""
    # no pin: training (the expensive part) runs ONCE at plan-build
    # time on the driver and both branches below share the resulting
    # literal plan; what recomputes across the two passes is only the
    # narrow assignment projection, cheaper than a persist round-trip
    # (measured: pinned 4.4 s vs unpinned 2.7 s at sf0.1)
    pruned = cluster_prune(
        vectors, id_col=id_col, vec_col=vec_col, dim=dim,
        n_cells=n_cells, n_iters=n_iters, rate_floor=rate_floor,
        rate_ceil=rate_ceil, centroids=centroids,
    )
    cuts = (
        pruned.filter(F.col("keep"))
        .groupBy("cell")
        .agg(F.max("cosine").alias("__cut"))
    )
    return (
        pruned.join(broadcast(cuts), "cell")
        .select(
            F.col(id_col),
            "cell",
            "cosine",
            (F.col("cosine") <= F.col("__cut")).alias("keep"),
        )
    )


def oracle_cluster_prune_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 3,
    rate_floor: float = 0.3,
    rate_ceil: float = 0.9,
) -> str:
    """DuckDB twin of :func:`cluster_prune` — the k-means CTE chain
    re-derives the codebook, assignment keeps the winning cosine, the
    keep rate derives from the same floored-integer mean, and the
    within-cluster rank orders by the same integer cosine units.
    ``cosine`` carries the ``+ 0.0`` signed-zero normalization (see
    :func:`oracle_cluster_profile_sql`); the policy twin inherits it
    through its nested ``verdicts`` CTE."""
    kmeans, final = _duck_kmeans_ctes(dim, n_cells, n_iters, id_col)
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    rf, rc = float(rate_floor), float(rate_ceil)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    {kmeans},
    assigned AS (
      SELECT x.{id_col}, CAST(c.__cell AS INT) AS cell,
        {cdot} / (x.__nrm * c.__cn) AS __cos,
        CAST(floor(({cdot} / (x.__nrm * c.__cn)) *
          CAST(1000000 AS DOUBLE)) AS DECIMAL(38,0)) AS __cu,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM n x, {final} c
      QUALIFY cr = 1
    ),
    prof AS (
      SELECT cell, count(*) AS __n,
        least(CAST({rc!r} AS DOUBLE),
          greatest(CAST({rf!r} AS DOUBLE),
            CAST({rf!r} AS DOUBLE) +
              (CAST({rc!r} AS DOUBLE) - CAST({rf!r} AS DOUBLE)) *
              (CAST(1 AS DOUBLE) -
                CAST(sum(__cu) AS DOUBLE) / (CAST(count(*) AS DOUBLE) *
                  CAST(1000000 AS DOUBLE))))) AS __rate
      FROM assigned GROUP BY cell
    ),
    nk AS (
      SELECT cell,
        greatest(CAST(1 AS BIGINT),
          CAST(ceil(__rate * CAST(__n AS DOUBLE)) AS BIGINT)) AS __nkeep
      FROM prof
    ),
    ranked AS (
      SELECT a.{id_col}, a.cell, a.__cos,
        CAST(row_number() OVER (PARTITION BY a.cell
          ORDER BY a.__cu ASC, a.{id_col} ASC) AS INT) AS cell_rank
      FROM assigned a
    )
    SELECT r.{id_col}, CAST(r.cell AS BIGINT) AS cell,
      round(r.__cos, 6) + 0.0 AS cosine,
      r.cell_rank,
      r.cell_rank <= k.__nkeep AS keep
    FROM ranked r JOIN nk k USING (cell)
    """


def oracle_cluster_prune_policy_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 3,
    rate_floor: float = 0.3,
    rate_ceil: float = 0.9,
) -> str:
    """DuckDB twin of :func:`cluster_prune_policy` — the full rank-form
    chain as a nested CTE, then the per-cluster cutoff re-derived from
    its kept set (never literal-injected) and the policy verdict as
    one more join."""
    inner = oracle_cluster_prune_sql(
        source_sql=source_sql, id_col=id_col, vec_col=vec_col, dim=dim,
        n_cells=n_cells, n_iters=n_iters, rate_floor=rate_floor,
        rate_ceil=rate_ceil,
    )
    return f"""
    WITH verdicts AS ({inner}),
    cuts AS (
      SELECT cell, max(cosine) AS __cut FROM verdicts
      WHERE keep GROUP BY cell
    )
    SELECT v.{id_col}, v.cell, v.cosine,
           v.cosine <= c.__cut AS keep
    FROM verdicts v JOIN cuts c USING (cell)
    """


def semantic_dedup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 2,
    threshold: float = 0.35,
    centroids: DataFrame | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with the deterministic
    k-means of :func:`train_centroids`, then mark as duplicates any
    vector with a LOWER-id cluster-mate at cosine ≥ ``threshold``.
    Output: one row per (nonzero-norm) vector — (``vec_id``, ``cell``,
    ``keep``) — so retention is a single ``keep`` filter downstream.

    Keep rule: a vector is kept iff NO lower-id vector in the SAME
    cluster has cosine ≥ threshold with it. Lowest-id-wins is the
    deterministic stand-in for the paper's keep-one-per-group choice
    (it keeps ≥1 representative of every duplicate group: the group's
    minimum id has no lower-id mate, so it always survives), and it is
    exactly expressible in the DuckDB oracle as a NOT EXISTS
    (:func:`oracle_semantic_dedup_sql` — the full pipeline including
    the k-means iterations has an exact SQL twin; same micro-unit
    integer centroid sums, same argmax tie-breaks).

    Scale shape (the reason clustering precedes pairing): the codebook
    is scalar-sized and inlined as literals, so assignment is one
    NARROW projection over the corpus — no shuffle, no crossJoin, no
    window. Candidate pairing then shuffles ONCE on the cell id and is
    quadratic only within a cell, never across the corpus. At 100 TB
    ``n_cells`` scales with the corpus (the paper runs 50k clusters on
    LAION; cell population, not corpus size, bounds per-task work) —
    the same population-bounding contract as dedup_minhash's bands and
    lsh_topk's buckets. Unlike pair-listing near-dup
    (:func:`embedding_near_dup`), output is corpus-sized, not
    pair-count-sized.

    ``max_cell`` is the skew GUARD for that contract (the
    ``dedup_minhash`` ``max_bucket`` pattern): a cell holding m
    vectors emits m·(m−1)/2 pairs, so one degenerate hot cell (an
    under-sized codebook, a boilerplate embedding mode) turns the
    pairing quadratic on a single shuffle key no matter how many
    executors exist. With the cap, vectors in cells larger than
    ``max_cell`` are excluded from the PAIRING step only (a
    count-over-window on the cell key — the same shuffle partitioning
    the pairing join needs anyway); they stay in the output with
    ``keep = true``, i.e. a hot cell is under-dropped, never
    mis-dropped, and the fix for recurring hot cells is a bigger
    codebook. Default ``None`` keeps the exact SemDeDup semantics and
    the DuckDB oracle unchanged; call sites that feed unbounded
    corpora (the ``corpus_prepare`` class) should set it the way they
    set ``dedup_max_bucket``.

    ``centroids`` (optional, columns ``__cell, __cv, __cn``) skips
    training and assigns against the given frozen codebook — the hook
    :class:`SemDedupIndex` uses to compare incremental ingestion
    against the one-shot result under the SAME quantizer.

    The reference repo has no semantic dedup; this extends the
    BASELINE.json LLM-data-pipeline tier alongside the MinHash /
    SimHash / embedding near-dup family."""
    cents_df = (
        centroids
        if centroids is not None
        else train_centroids(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            n_iters=n_iters, expect_dim=dim,
        )
    )
    # codebook-sized driver pull (train_centroids materializes the
    # codebook on the driver anyway; this is the same legitimacy class
    # as its per-iteration collects)
    argmax = _argmax_cell_expr(_collect_codebook(cents_df))

    v = _require_dim(
        _with_norm(spread(vectors, id_col).select(id_col, vec_col), vec_col),
        dim, "semantic_dedup",
    )
    assigned = pin(
        v.withColumn("__cell", F.expr(argmax))
        .select(id_col, "__v", "__nrm", "__cell")
    )
    pair_src = assigned
    if max_cell is not None:
        # hot-cell guard: drop oversized cells from PAIRING only.
        # NOT a count-over-window on __cell (the _band_pairs pattern):
        # cells are LOW-cardinality by design (≤ n_cells values), so a
        # window partitioned by __cell funnels the whole corpus into
        # n_cells tasks — it materializes the very hot partition the
        # cap exists to avoid (measured 4.6× slower on the capped
        # text_semantic_dedup bench). Instead aggregate to a
        # codebook-sized hot-cell list (map-side combine → ≤ n_cells
        # rows) and broadcast anti-join it: one narrow pass, pairing
        # input partitioning untouched, excluded vectors fall through
        # the left join below as keep = true.
        hot = (
            assigned.groupBy("__cell")
            .agg(F.count(F.lit(1)).alias("__csz"))
            .filter(F.col("__csz") > max_cell)
            .select("__cell")
        )
        pair_src = assigned.join(broadcast(hot), "__cell", "left_anti")
    a = pair_src.select(
        "__cell",
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = pair_src.select(
        "__cell",
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    cos = _cos("__va", "__vb", "__na", "__nb")
    dropped = (
        a.join(b, "__cell")
        .filter(F.col("__idb") < F.col("__ida"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= F.lit(threshold))
        .select(F.col("__ida").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__cell").cast("long").alias("cell"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


def oracle_semantic_dedup_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 2,
    threshold: float = 0.35,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` — the full pipeline
    (k-means training, argmax assignment, within-cluster lower-id
    domination) as one SQL statement."""
    kmeans, final = _duck_kmeans_ctes(dim, n_cells, n_iters, id_col)
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    pdot = _duck_dot("a.__v", "b.__v", dim)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    n AS (
      SELECT {id_col}, __v,
             sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    {kmeans},
    assigned AS (
      SELECT x.{id_col}, x.__v, x.__nrm, c.__cell,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM n x, {final} c
      QUALIFY cr = 1
    ),
    dropped AS (
      SELECT DISTINCT a.{id_col}
      FROM assigned a JOIN assigned b
        ON a.__cell = b.__cell AND b.{id_col} < a.{id_col}
      WHERE {pdot} / (a.__nrm * b.__nrm) >= {threshold}
    )
    SELECT a.{id_col} AS {id_col}, a.__cell AS cell,
           d.{id_col} IS NULL AS keep
    FROM assigned a LEFT JOIN dropped d USING ({id_col})
    """


class SemDedupIndex(StagedIndex):
    """Persistent incremental semantic dedup — the ingestion shape of
    :func:`semantic_dedup`, the way :class:`~streamtasks_spark.llmdata.
    dedup.MinHashIndex` is the ingestion shape of ``dedup_minhash``: a
    frozen codebook plus the KEPT (surviving) vectors on disk, so each
    arriving batch is deduplicated against all previously-retained
    history without re-reading, re-assigning, or re-pairing the
    historical corpus.

    On-disk layout under ``path``:

      ``codebook/`` — (__cell, __cv, __cn): trained by the FIRST ingest
        (:func:`train_centroids` on that batch), then frozen —
        production quantizer semantics: train once on a sample, never
        move the cells under an already-assigned corpus. A pre-trained
        table drops into the same files.
      ``kept/`` — ({id_col}, __v, __nrm, __cell) of every vector
        retained so far. Only SURVIVORS are stored: the index is the
        deduplicated corpus's embedding view, not a second copy of the
        raw corpus (storing dropped vectors too would double the
        corpus-scale footprint for no retrieval value).

    Keep rule per :meth:`ingest` batch B against kept history H:
    a vector x ∈ B is dropped iff a lower-id cluster-mate at cosine ≥
    threshold exists in H (all of which are KEPT) or in B itself (kept
    or not — the one-shot rule within the batch). Relationship to the
    one-shot :func:`semantic_dedup` over the union, given the SAME
    codebook and batch-monotone ids (every batch's ids exceed all
    earlier ids — the natural crawl-increment order):

    - **superset**: every one-shot-kept vector is incrementally kept.
      One-shot-kept means NO lower-id cluster-mate ≥ threshold exists
      at all; both incremental domination sources are subsets of "all
      lower-id mates", so neither can drop it. Per-cell minimum ids
      are kept under both rules.
    - at one-vector-per-batch granularity the index computes exactly
      the greedy sequential scan of the SemDeDup paper (each arrival
      compared against survivors only); the one-shot any-mate rule is
      the more aggressive join-expressible variant. Both are pinned
      against each other in tests/test_llmdata.py.

    Scale shape: assignment of the batch is the same narrow
    literal-argmax projection as the one-shot op; the only join is
    batch-vs-(batch ∪ kept-history) keyed on the cell id — at
    warehouse scale persist ``kept/`` bucketed on ``__cell`` so the
    history side is co-located and shuffle-free, and scale ``n_cells``
    with the corpus so cell population (hence per-batch join fan-out)
    stays bounded. Ids must be unique across ingests (enforce
    upstream); monotone ids are required only for the one-shot
    comparison above, not for well-defined output.

    Commit protocol: the :class:`~streamtasks_spark.core.state.Staging`
    ingest over the one table ``kept/`` (:meth:`stage`). The batch's
    survivors land in an uncommitted segment, and the verdict reads
    kept history through the segments live before that, so it never
    sees the batch as its own history (which would drop everything as
    its own duplicate); a streaming fence already in ``kept/`` skips
    the batch, so a replay adds no survivor twice."""

    def __init__(
        self,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: int = 64,
        n_cells: int = 8,
        n_iters: int = 2,
        threshold: float = 0.35,
        max_cell: int | None = None,
    ) -> None:
        self.path = str(path)
        self.codebook_path = f"{self.path}/codebook"
        self.kept_path = f"{self.path}/kept"
        self.id_col = id_col
        self.vec_col = vec_col
        self.dim = dim
        self.n_cells = n_cells
        self.n_iters = n_iters
        self.threshold = threshold
        # hot-cell pairing guard, the semantic_dedup max_cell contract:
        # cells whose DOMINATOR population (batch ∪ kept history)
        # exceeds the cap are excluded from pairing for this ingest —
        # their batch vectors keep=true (under-dropped, never
        # mis-dropped) and enter history; the per-ingest join fan-out
        # stays bounded however degenerate one cell grows. None keeps
        # exact incremental semantics.
        self.max_cell = max_cell

    def codebook(self, spark) -> DataFrame | None:
        return snapshot_read(spark, self.codebook_path)

    def stage(self, vectors: DataFrame, fence: dict | None = None):
        """Land the batch's survivors, at ``vectors``' own
        partitioning: ``(verdict, commit)``, or None when the streaming
        ``fence`` is already committed. ``verdict`` ({id_col}, cell,
        keep) is persisted and materialized by the landing. The first
        batch trains the codebook, frozen from then on."""
        st = Staging.open((self.kept_path,), fence)
        if st is None:
            return None
        spark = vectors.sparkSession
        idc = self.id_col
        cb = self.codebook(spark)
        if cb is None:
            trained = train_centroids(
                vectors, id_col=idc, vec_col=self.vec_col,
                n_cells=self.n_cells, n_iters=self.n_iters,
                expect_dim=self.dim,
            )
            replace_write(trained, self.codebook_path)
            cb = snapshot_read(spark, self.codebook_path)
        argmax = _argmax_cell_expr(_collect_codebook(cb))
        v = _require_dim(
            _with_norm(vectors.select(idc, self.vec_col), self.vec_col),
            self.dim, "SemDedupIndex.ingest",
        )
        # the batch feeds both sides of the pairing and the survivors
        batch = pin(
            v.withColumn("__cell", F.expr(argmax))
            .select(idc, "__v", "__nrm", "__cell")
        )
        hist = snapshot_read(spark, self.kept_path)
        dominators = (
            batch if hist is None
            else batch.unionByName(hist.select(idc, "__v", "__nrm", "__cell"))
        )
        pair_batch = batch
        if self.max_cell is not None:
            # codebook-sized hot-cell list + broadcast anti-join, the
            # semantic_dedup shape (NOT a window on the low-cardinality
            # cell key — that funnels the corpus into n_cells tasks)
            hot = (
                dominators.groupBy("__cell")
                .agg(F.count(F.lit(1)).alias("__csz"))
                .filter(F.col("__csz") > self.max_cell)
                .select("__cell")
            )
            pair_batch = batch.join(broadcast(hot), "__cell", "left_anti")
            dominators = dominators.join(
                broadcast(hot), "__cell", "left_anti"
            )
        a = pair_batch.select(
            "__cell",
            F.col(idc).alias("__ida"),
            F.col("__v").alias("__va"),
            F.col("__nrm").alias("__na"),
        )
        b = dominators.select(
            "__cell",
            F.col(idc).alias("__idb"),
            F.col("__v").alias("__vb"),
            F.col("__nrm").alias("__nb"),
        )
        cos = _cos("__va", "__vb", "__na", "__nb")
        dropped = (
            a.join(b, "__cell")
            .filter(F.col("__idb") < F.col("__ida"))
            .withColumn("__cos", cos)
            .filter(F.col("__cos") >= F.lit(self.threshold))
            .select(F.col("__ida").alias(idc))
            .distinct()
            .withColumn("__drop", F.lit(True))
        )
        # the verdict feeds both the survivors and the caller's output
        verdict = pin(
            batch.join(dropped, idc, "left")
            .select(
                F.col(idc),
                F.col("__cell").cast("long").alias("cell"),
                F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
            )
        )
        st.land(
            batch.join(
                verdict.filter(F.col("keep")).select(idc), idc, "left_semi"
            ),
            self.kept_path,
        )
        batch.unpersist()  # the verdict is cached now
        return verdict, st.commit

    def compact(self, spark, *, files_per_table: int = 8) -> None:
        """Coalesce the append-accreted ``kept/`` part files (the same
        small-files hygiene as MinHashIndex.compact; the codebook is
        written once and never appended). EXCLUSIVE access required —
        see :func:`~streamtasks_spark.llmdata.dedup.compact_table`."""
        compact_table(spark, self.kept_path, files=files_per_table)


# ------------------------------------------------------ codebook drift

GRID_SQ = PQ_GRID * PQ_GRID  # 2^40: the self-ADC score of a perfect code


def _drift_stats(
    v: DataFrame,
    cb: dict[int, tuple[list[float], float]],
    pqcb: tuple[dict, dict] | None,
    *,
    batch_expr,
    dim: int = 0,
    m_sub: int = 0,
) -> DataFrame:
    """Per-batch assignment-quality stats against FROZEN codebooks —
    the shared fragment behind :meth:`IvfIndex.ingest` /
    :meth:`IvfPqIndex.ingest` stats rows and :func:`ann_drift_probe`
    (engine and oracle consume the same math, the cluster_profile
    discipline). ``v`` carries (__v, __nrm) and — when ``pqcb`` is
    given — ``__nv``; ``batch_expr`` labels each row's batch.

    Columns per batch: ``n`` (nonzero-norm, dim-valid rows — the rows
    an ingest actually indexes), ``mean_win_cosine`` (mean winning
    coarse-assignment cosine as a floored-1e-6-unit DECIMAL mean —
    partition-order-free, bit-identical cross-engine) and, under PQ,
    ``mean_adc_err``: the mean self-ADC shortfall ``(2^40 − iscore) /
    2^40`` where ``iscore`` is the vector's integer ADC score against
    its OWN code — exactly 2^40 for a perfect reconstruction, an
    EXACT-integer quantization-error measure (sums in DECIMAL(38,0),
    so the mean is order-free too).

    Why these two numbers: a frozen codebook serves data it was never
    trained on (the documented IVF drift trade-off). When the incoming
    distribution drifts, vectors land FARTHER from every coarse
    centroid (mean_win_cosine drops) and PQ codes reconstruct worse
    (mean_adc_err rises) — per-batch, measured, appended as data, so a
    rebuild is triggered on evidence instead of faith."""
    rows = v.withColumn("__best", F.expr(_argmax_struct_expr(cb)))
    if pqcb is not None:
        sub = dim // m_sub
        pq_cents, cint = pqcb
        rows = (
            rows.withColumn("__codes", _pq_codes_col(pq_cents, m_sub, sub))
            .withColumn("__qi", F.expr(_pq_qi_expr()))
            .withColumn("__lut", F.expr(_pq_lut_expr(cint, m_sub, sub)))
            .withColumn("__is", _pq_iscore(m_sub))
        )
    rows = rows.select(
        batch_expr.cast("int").alias("batch_id"),
        F.expr(
            "CAST(floor(__best.s * 1000000) AS DECIMAL(38,0))"
        ).alias("__cu"),
        *(
            []
            if pqcb is None
            else [
                F.expr(
                    f"CAST({GRID_SQ}L - __is AS DECIMAL(38,0))"
                ).alias("__eu")
            ]
        ),
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(sum(__cu) AS DOUBLE) / "
            "(CAST(count(1) AS DOUBLE) * CAST(1000000 AS DOUBLE))"
        ).alias("mean_win_cosine"),
    ]
    if pqcb is not None:
        aggs.append(
            F.expr(
                f"CAST(sum(__eu) AS DOUBLE) / "
                f"(CAST(count(1) AS DOUBLE) * CAST({GRID_SQ} AS DOUBLE))"
            ).alias("mean_adc_err")
        )
    return rows.groupBy("batch_id").agg(*aggs)



def ann_drift_probe(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    pq_iters: int = 2,
    split_id: int = 250,
) -> DataFrame:
    """Codebook-drift probe — the certified form of the stats
    rows :meth:`IvfIndex.ingest` / :meth:`IvfPqIndex.ingest` append:
    train BOTH codebooks (coarse spherical k-means via
    :func:`train_centroids`, per-subspace PQ via
    :func:`train_pq_codebooks`) on the FIRST batch
    (``id_col < split_id``) only, freeze them, then measure every
    batch's assignment quality against the frozen books. Output one
    row per batch: (``batch_id``, ``n``, ``mean_win_cosine``,
    ``mean_adc_err``, ``win_cos_drop``, ``adc_err_rise``) — the last
    two are deltas vs batch 0, the trigger signals a production
    pipeline alerts on (the quality-as-data pattern of
    :func:`recall_probe`).

    Everything is exact-integer-mean arithmetic over frozen literal
    codebooks, so the full pipeline — including both k-means training
    loops — has a bit-exact DuckDB twin (:func:`oracle_ann_drift_sql`).

    100 TB shape: training is codebook-sized (first batch, driver
    literals); per-batch measurement is ONE narrow projection + a
    ≤ n_batches-row rollup with map-side combine — no join, no window
    over data rows, nothing wider than the ingest already does."""
    train_src = vectors.filter(F.col(id_col) < split_id)
    # the two codebook chains are independent deterministic trainings
    # over the same frozen split — overlap their driver⇄cluster round
    # trips (guide §2.6); results are bit-identical to the sequential
    # form by construction
    cb, pqcb = run_build_steps(
        lambda: _collect_codebook(train_centroids(
            train_src, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            n_iters=n_iters, expect_dim=dim,
        )),
        lambda: train_pq_codebooks(
            train_src, id_col=id_col, vec_col=vec_col, dim=dim,
            m_sub=m_sub, n_codes=n_codes, n_iters=pq_iters,
        ),
    )
    v = _pq_prep(
        _with_norm(spread(vectors, id_col).select(id_col, vec_col), vec_col),
        dim, "ann_drift_probe",
    )
    stats = _drift_stats(
        v, cb, pqcb,
        batch_expr=F.when(F.col(id_col) < split_id, 0).otherwise(1),
        dim=dim, m_sub=m_sub,
    )
    # deltas vs batch 0 — a ≤ n_batches-row window (two rows here);
    # the single-partition window is bounded by batch COUNT, never by
    # data volume (the prune_cutoffs legitimacy class)
    w = (
        Window.orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return stats.select(
        "batch_id",
        "n",
        "mean_win_cosine",
        "mean_adc_err",
        (F.first("mean_win_cosine").over(w) - F.col("mean_win_cosine"))
        .alias("win_cos_drop"),
        (F.col("mean_adc_err") - F.first("mean_adc_err").over(w))
        .alias("adc_err_rise"),
    )


def oracle_ann_drift_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_iters: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    pq_iters: int = 2,
    split_id: int = 250,
) -> str:
    """DuckDB twin of :func:`ann_drift_probe` — both k-means chains
    re-derived over the FIRST batch only (the ``n``/``nn`` training
    CTEs are split-filtered), then every batch measured against the
    frozen result with the same floored-integer means and the same
    exact-integer self-ADC shortfall."""
    kmeans, cfinal = _duck_kmeans_ctes(dim, n_cells, n_iters, id_col)
    pqkmeans, pqfinal = _duck_pq_kmeans_ctes(
        dim, m_sub, n_codes, pq_iters, id_col
    )
    sub = dim // m_sub
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    dist = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(x.__nv[c.__m * {sub} + i] - c.__cv[i]) "
        f"* (x.__nv[c.__m * {sub} + i] - c.__cv[i])))"
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    alln AS (
      SELECT {id_col}, __v,
        sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    n AS (
      SELECT * FROM alln WHERE {id_col} < {split_id}
    ),
    {kmeans},
    nn AS (
      SELECT {id_col}, __v, __nrm,
        list_transform(__v, x -> x / __nrm) AS __nv
      FROM n
    ),
    {pqkmeans},
    allnn AS (
      SELECT {id_col}, __v, __nrm,
        list_transform(__v, x -> x / __nrm) AS __nv,
        CASE WHEN {id_col} < {split_id} THEN 0 ELSE 1 END AS batch_id
      FROM alln
    ),
    ci AS (
      SELECT __m, __j,
        list_transform(__cv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __ci
      FROM {pqfinal}
    ),
    won AS (
      SELECT x.{id_col}, x.batch_id,
        CAST(floor(({cdot} / (x.__nrm * c.__cn)) *
          CAST(1000000 AS DOUBLE)) AS DECIMAL(38,0)) AS __cu,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM allnn x, {cfinal} c
      QUALIFY cr = 1
    ),
    codes AS (
      SELECT x.{id_col}, c.__m, c.__j,
        row_number() OVER (PARTITION BY x.{id_col}, c.__m
          ORDER BY {dist} ASC, c.__j ASC) AS cr
      FROM allnn x, {pqfinal} c
      QUALIFY cr = 1
    ),
    qi AS (
      SELECT {id_col},
        list_transform(__nv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __qi
      FROM allnn
    ),
    selfs AS (
      SELECT a.{id_col},
        CAST(sum(list_sum(list_transform(range(1, {sub + 1}),
          i -> q.__qi[a.__m * {sub} + i] * c.__ci[i]))) AS BIGINT)
          AS __is
      FROM codes a
      JOIN ci c ON c.__m = a.__m AND c.__j = a.__j
      JOIN qi q USING ({id_col})
      GROUP BY 1
    ),
    agg AS (
      SELECT w.batch_id,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(w.__cu) AS DOUBLE) /
          (CAST(count(1) AS DOUBLE) * CAST(1000000 AS DOUBLE))
          AS mean_win_cosine,
        CAST(sum(CAST({PQ_GRID * PQ_GRID} - s.__is AS DECIMAL(38,0)))
             AS DOUBLE) /
          (CAST(count(1) AS DOUBLE) * CAST({PQ_GRID * PQ_GRID} AS DOUBLE))
          AS mean_adc_err
      FROM won w JOIN selfs s USING ({id_col})
      GROUP BY 1
    )
    SELECT batch_id, n, mean_win_cosine, mean_adc_err,
      (first_value(mean_win_cosine) OVER w0 - mean_win_cosine)
        AS win_cos_drop,
      (mean_adc_err - first_value(mean_adc_err) OVER w0)
        AS adc_err_rise
    FROM agg
    WINDOW w0 AS (ORDER BY batch_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


# --------------------------------------------------------- residual PQ

def ivf_pq_res_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding, coarse ``ivf`` × code ``pq_res``
    — the standard Faiss ``IVFx,PQy`` formulation :func:`ivf_pq_topk`
    deliberately skips: each vector is coded as the PQ quantization of
    its residual ``r = v̂ − ĉ(cell)`` against its assigned unit
    centroid, not of v̂ itself. Residuals concentrate near the origin
    once the coarse quantizer has soaked up the between-cell
    structure, so the same ``m_sub × n_codes`` code budget spends its
    resolution on the within-cell detail that actually ranks
    neighbors — the measured recall gain is :func:`recall_probe`'s
    seventh rung.

    ADC decomposition: ``dot(q̂, v̂) ≈ dot(q̂, ĉ) + dot(q̂, recon(r))``.
    The first term is EXACT per (query, probed cell) — n_probe cheap
    dot products per query; the second is the integer LUT sum of
    :func:`pq_topk` pointed at residual codebooks. Candidates rank by
    the double sum (identical arithmetic in both engines over
    identical inputs, ties to lowest id); exact cosine re-ranks the
    ``rerank·k`` survivors. Output (query_id, vec_id, cosine, approx,
    rank), ``approx`` = the ADC estimate of the dot.

    One codebook set is still SHARED across cells (pooled-residual
    training — Faiss's default too, per-cell books multiply training
    cost n_cells-fold); what moves vs :func:`ivf_pq_topk` is WHAT the
    codes describe. The trade-off: residual codes are only valid
    under the coarse assignment that produced them, so a vector that
    migrates cells on a coarse retrain must re-encode — the reason
    the persistent :class:`IvfPqIndex` ships non-residual by default
    and measures the cost via its drift stats instead.

    100 TB shape: identical to ivf_pq_topk — broadcast coarse
    codebook, one cell-keyed shuffle, integer-exact candidate
    selection, exact math on rerank·k survivors only."""
    if dim % m_sub:
        raise ValueError(
            f"ivf_pq_res_topk: dim {dim} not divisible by m_sub {m_sub}"
        )
    op = "ivf_pq_res_topk"
    a, q = _ivf(
        _pq_prep(_corpus_norm(vectors, id_col, vec_col), dim, op),
        _pq_prep(_query_norm(queries, id_col, vec_col), dim, op, query=True),
        _seed_cells(vectors, id_col, vec_col, n_cells), id_col, n_probe,
        carry=("__nv", "__qi"), keep_centroid=True,
    )
    a = pin(a.withColumn("__res", F.expr(_RES)))
    code = _pq_code(
        _res_codebooks(a, id_col, dim, m_sub, n_codes, n_iters),
        dim, m_sub, rerank, residual=True,
    )
    if code is None:
        a.unpersist()
    return _search(a, q, code, id_col=id_col, k=k, key="__cell")




def oracle_ivf_pq_res_topk_sql(
    *,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_filter: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 8,
    n_codes: int = 8,
    n_iters: int = 2,
    k: int = 5,
    rerank: int = 4,
) -> str:
    """DuckDB twin of :func:`ivf_pq_res_topk` — coarse assignment from
    the seeded codebook, residuals fed through the SAME per-subspace
    k-means CTE chain as :func:`oracle_pq_topk_sql` (the ``nn`` CTE
    just carries residuals as ``__nv``), candidates ranked by the
    identical double (cell dot + integer LUT sum / 2^40)."""
    kmeans, final = _duck_pq_kmeans_ctes(dim, m_sub, n_codes, n_iters,
                                         id_col)
    sub = dim // m_sub
    cdot = _duck_dot("x.__v", "c.__cv", dim)
    dist = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(x.__nv[c.__m * {sub} + i] - c.__cv[i]) "
        f"* (x.__nv[c.__m * {sub} + i] - c.__cv[i])))"
    )
    r = rerank * k
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS __v FROM ({source_sql})
    ),
    nb AS (
      SELECT {id_col}, __v,
        sqrt({_duck_dot("__v", "__v", dim)}) AS __nrm
      FROM base WHERE {_duck_norm_pred("__v", dim)}
    ),
    cents AS (
      SELECT {id_col} AS __cell, __v AS __cv, __nrm AS __cn
      FROM nb WHERE {id_col} < {n_cells}
    ),
    assigned AS (
      SELECT x.{id_col}, x.__v, x.__nrm, c.__cell,
        list_transform(range(1, {dim + 1}),
          i -> x.__v[i] / x.__nrm - c.__cv[i] / c.__cn) AS __res,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM nb x, cents c
      QUALIFY cr = 1
    ),
    nn AS (
      SELECT {id_col}, __res AS __nv FROM assigned
    ),
    {kmeans},
    ci AS (
      SELECT __m, __j,
        list_transform(__cv,
                       x -> CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __ci
      FROM {final}
    ),
    codes AS (
      SELECT x.{id_col}, c.__m, c.__j,
        row_number() OVER (PARTITION BY x.{id_col}, c.__m
          ORDER BY {dist} ASC, c.__j ASC) AS cr
      FROM nn x, {final} c
      QUALIFY cr = 1
    ),
    probes AS (
      SELECT x.{id_col} AS query_id, x.__v AS __qv, x.__nrm AS __qn,
        c.__cell,
        list_sum(list_transform(range(1, {dim + 1}),
          i -> (x.__v[i] / x.__nrm) * (c.__cv[i] / c.__cn))) AS __cd,
        list_transform(x.__v,
          v -> CAST(floor((v / x.__nrm) * {PQ_GRID}.0 + 0.5) AS BIGINT))
          AS __qi,
        row_number() OVER (PARTITION BY x.{id_col}
          ORDER BY {cdot} / (x.__nrm * c.__cn) DESC, c.__cell ASC) AS cr
      FROM nb x, cents c
      WHERE {query_filter.replace(id_col, "x." + id_col)}
      QUALIFY cr <= {n_probe}
    ),
    lut AS (
      SELECT q.query_id, c.__m, c.__j,
        list_sum(list_transform(range(1, {sub + 1}),
                 i -> q.__qi[c.__m * {sub} + i] * c.__ci[i])) AS __val
      FROM (SELECT DISTINCT query_id, __qi FROM probes) q
      CROSS JOIN ci c
    ),
    scored AS (
      SELECT a.{id_col}, p.query_id,
        p.__cd + CAST(iscore.__is AS DOUBLE) / {float(PQ_GRID) ** 2!r}
          AS __adc
      FROM assigned a
      JOIN probes p ON a.__cell = p.__cell
      JOIN (
        SELECT c.{id_col}, l.query_id,
          CAST(sum(l.__val) AS BIGINT) AS __is
        FROM codes c JOIN lut l ON l.__m = c.__m AND l.__j = c.__j
        GROUP BY 1, 2
      ) iscore ON iscore.{id_col} = a.{id_col}
             AND iscore.query_id = p.query_id
      WHERE a.{id_col} <> p.query_id
    ),
    cand AS (
      SELECT s.{id_col}, s.query_id, s.__adc,
        row_number() OVER (
          PARTITION BY s.query_id ORDER BY s.__adc DESC, s.{id_col} ASC
        ) AS __cr
      FROM scored s QUALIFY __cr <= {r}
    ),
    rer AS (
      SELECT c.query_id, c.{id_col}, c.__adc,
        {_duck_dot("a.__v", "q.__qv", dim)} / (a.__nrm * q.__qn) AS __cos
      FROM cand c
      JOIN nb a USING ({id_col})
      JOIN (SELECT DISTINCT query_id, __qv, __qn FROM probes) q
        ON q.query_id = c.query_id
    )
    SELECT query_id, {id_col}, round(__cos, 6) + 0.0 AS cosine,
           round(__adc, 6) + 0.0 AS approx,
           CAST(row_number() OVER w AS INT) AS rank
    FROM rer
    WINDOW w AS (PARTITION BY query_id ORDER BY __cos DESC, {id_col} ASC)
    QUALIFY rank <= {k}
    """
