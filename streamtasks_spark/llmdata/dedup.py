"""Deduplication operators for LLM training-data pipelines.

Four tiers over a ``documents``-style table (id + text):

- :func:`dedup_exact` — hash-groupBy on whitespace-normalized text.
- :func:`dedup_minhash` — MinHash + banded LSH candidate generation
  (shingle → minhash signature → band buckets → pairs within buckets
  only), then exact-Jaccard verification of candidates. Never all-pairs.
- :func:`dedup_simhash` — 60-bit SimHash with 4×15-bit chunk blocking;
  by pigeonhole, every pair within Hamming distance ≤ 3 shares at least
  one chunk, so the blocking has GUARANTEED recall at that radius.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard within a blocking
  column (e.g. ``lang``). The exact baseline; quadratic within a block,
  so at 100 TB use :func:`dedup_minhash` instead.

Scale shape: every step is a shuffle on a bucket/band key plus joins on
document ids — no all-pairs stage. Hot LSH buckets (thousands of mutual
near-dups) go quadratic within the bucket; ``dedup_minhash(...,
max_bucket=N)`` drops oversized buckets before pairing (each doc still
has N_BANDS−1 other chances to pair), and AQE skew-join splitting
(enabled in session.py) handles residual partition-level skew.

Cross-engine determinism: every hash is derived from md5 hex prefixes
(``conv(substr(md5(x),1,k),16,10)`` in Spark ≡ ``cast('0x'||substr(
md5(x),1,k) as bigint)`` in DuckDB — verified bit-identical), and the
minhash permutation constants live in :data:`MINHASH_PERMS`, so the
``oracle_*_sql`` builders reproduce the EXACT algorithm in DuckDB and the
driver's hash-match is meaningful end-to-end.

Reference parity note: the reference repo (an A/V dataflow engine) has no
dedup operators; this tier is the BASELINE.json "LLM-data pipeline"
requirement, built on the same Spark-first vocabulary.
"""

from __future__ import annotations

import os
import random
import re
import threading
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from streamtasks_spark.core.state import (
    Staging,
    manifest_read,
    read_manifest,
    replace_write,
)

# modulus for the minhash universal-hash family (a*h + b) % P.
# P is prime and > every 28-bit shingle hash; a < 2^30 keeps a*h < 2^58,
# safely inside int64 in BOTH engines (DuckDB errors on overflow).
P_MOD = 2147483647


def _gen_perms(n: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30) | 1, rng.randrange(0, 1 << 30))
        for _ in range(n)
    ]


# 32 permutations = 8 bands x 4 rows: detection probability at jaccard j
# is 1-(1-j^4)^8 (≈0.99998 at j=0.9, ≈0.03 at j=0.3) — the classic S-curve
# for near-dup thresholds around 0.5-0.9.
N_PERMS = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERMS // N_BANDS
MINHASH_PERMS = _gen_perms(N_PERMS)

SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed int64 in both engines
SIMHASH_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS


# --------------------------------------------------------------- helpers

_PIN_SCOPES = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """Persist (memory-and-disk) a subplan that feeds MULTIPLE join
    branches. Spark has no common-subexpression elimination across
    DataFrame branches — without this, a self-joined shingle table
    recomputes its whole scan→md5→explode lineage once per branch, which
    profiling shows dominates the dedup operators' wall time. At 100 TB
    the persisted table is the (much smaller) derived sketch, not the
    corpus, and MEMORY_AND_DISK spills safely.

    Inside a :func:`pin_scope`, every pin is also recorded in the
    scope's registry and unpersisted on scope exit — see there for the
    long-lived-session story."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    for reg in getattr(_PIN_SCOPES, "stack", ()):
        reg.append(df)
    return df


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list:
    """Driver-bound guard for codebook/sketch-class pulls (r11): every
    deliberate ``.collect()`` in the engine argues a row bound in a
    comment — this makes the argument EXECUTABLE. The pull runs under
    a LIMIT of ``max_rows + 1``, so even a mis-configured knob (an
    n_cells or sketch width sized for a different corpus) never
    materializes an unbounded result on the driver; crossing the bound
    raises loudly instead of silently OOMing the driver at 100×.

    The LIMIT leaves collected row ORDER undefined — callers must be
    order-insensitive (dict/set builders, full-replacement writes),
    which every codebook-class pull in the engine is."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what}: driver pull exceeded its documented bound of "
            f"{max_rows} rows — the current configuration implies a "
            f"driver-unsafe codebook/sketch size; resize the knob "
            f"deliberately or keep this object distributed"
        )
    return rows


@contextmanager
def pin_scope() -> "Iterator[list[DataFrame]]":
    """Bound the cache lifetime of every :func:`pin` taken inside the
    block: on exit (including on exception) each recorded pin is
    unpersisted. This is the unpersist handle for pins that sit in a
    returned plan's LINEAGE and therefore cannot be released by the
    operator itself — e.g. :func:`~streamtasks_spark.llmdata.quality.
    unigram_lm`'s corpus tokenization, which the scoring scan reads; a
    long-lived serving session invoking such operators repeatedly
    otherwise accumulates one cache entry per call (the r07→r08 watch
    item). Usage::

        with pin_scope():
            unigram_lm(docs).write.parquet(out)   # materialize INSIDE

    Materialize inside the block: after exit the pins are gone and any
    re-execution of the returned plan recomputes them (correct, just
    unpinned). Pins an operator already releases internally (the
    train-step rule) unpersist twice — a documented Spark no-op.
    Scopes nest (inner pins release with BOTH scopes — unpersist is
    idempotent) and the registry is thread-local, so concurrent driver
    threads don't release each other's pins. Yields the registry list
    for callers that want to inspect or release early."""
    reg: list[DataFrame] = []
    stack = getattr(_PIN_SCOPES, "stack", None)
    if stack is None:
        stack = _PIN_SCOPES.stack = []
    stack.append(reg)
    try:
        yield reg
    finally:
        stack.remove(reg)
        for df in reg:
            df.unpersist()


def run_build_steps(*thunks):
    """Run independent BUILD steps (training loops whose cost is
    sequential driver⇄cluster round trips, not data volume) as
    concurrent Spark jobs from a small thread pool — guide §2.6:
    actions are only sequential because the driver calls them
    sequentially, and overlapping independent jobs back-fills the
    scheduling/latency gaps. Results are unchanged (each step is
    deterministic and touches disjoint state). Each worker thread
    INHERITS the caller's :func:`pin_scope` registries (the stack is
    thread-local by design, so without this a pin taken inside a step
    would escape its scope and leak in a long-lived session). Returns
    the thunk results in order; the first exception propagates."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    parent_stack = getattr(_PIN_SCOPES, "stack", None)

    def wrap(fn):
        def run():
            if parent_stack is not None:
                _PIN_SCOPES.stack = parent_stack
            return fn()

        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(wrap(fn)) for fn in thunks]
        return [f.result() for f in futs]


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a (possibly single-file, hence single-partition) scan
    across the cluster before CPU-heavy per-row expressions. A small
    parquet file arrives as ONE input split regardless of cores — md5/
    shingle pipelines would then run on one task. One round-robin/hash
    shuffle of the raw rows buys full parallelism for everything
    downstream. It is for one-shot corpus reads, where that one shuffle
    is paid once per query; a foreachBatch twin's per-batch step does
    not call it, because a micro-batch frame reports 0 input files and
    would pay the shuffle on every trigger (its parallelism comes from
    its source's files instead).

    Scale-adaptive since the r11 optimization round: when the frame's
    input already spans at least the target partition count in FILES
    (each file is at least one scan split), the repartition is a pure
    loss — at 100 TB it re-shuffles every corpus byte to REDUCE
    parallelism to the local constant ``n`` — so it is skipped
    outright (guide §2.4: remove shuffles; §2: partitioning must be
    scale-adaptive, not tuned for local mode). ``inputFiles`` is
    driver metadata served from the session's cached file index; a
    frame with no file lineage (in-memory relations, streaming)
    reports zero files and keeps the spread. Correctness never
    depends on the choice: every operator's output is
    partition-independent by the engine's bit-determinism discipline
    (integer-sum aggregations, two-phase top-k, window tie-breaks),
    which is exactly what the permutation/fuzz suites pin."""
    sc = df.sparkSession.sparkContext
    n = max(sc.defaultParallelism, 8)
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass  # no file lineage (local relation, stream): keep the spread
    return df.repartition(n, *cols) if cols else df.repartition(n)


class StagedIndex:
    """An index whose ``stage(batch, fence=None)`` lands the batch in
    uncommitted segments and returns ``(out, commit)`` (the
    :class:`~streamtasks_spark.core.state.Staging` ingest)."""

    def ingest(self, batch: DataFrame) -> DataFrame:
        """:meth:`stage` over the :func:`spread` batch — a bulk load
        runs at full parallelism — then the commit; returns ``out``."""
        out, commit = self.stage(spread(batch, self.id_col))
        commit()
        return out


def norm_text(text_col: str, engine: str = "spark") -> str:
    """Whitespace-collapsing normalization as a SQL fragment: collapse ALL
    whitespace runs to single spaces, then trim. Collapse-before-trim
    matters: trim() strips only ASCII spaces in both engines, so tabs and
    newlines at the edges survive a trim-first formulation.

    The regex literal differs per engine — Spark SQL string literals
    process backslash escapes (``'\\\\s+'`` in SQL text → regex ``\\s+``),
    DuckDB's don't. DuckDB additionally needs the explicit ``'g'`` flag:
    its regexp_replace replaces only the FIRST match by default, where
    Spark's always replaces all — on text with more than one whitespace
    run the unflagged oracle silently diverges (found by
    tests/test_oracle_fuzz.py; the fixed testdata is single-spaced and
    never exercised it).

    Case folding is pinned to the locale-stable SIMPLE per-codepoint
    mapping. Java's ``toLowerCase`` (behind Spark's ``lower``) applies
    Unicode SpecialCasing — context-sensitive final sigma (``Σ`` → ς
    at word end, σ elsewhere) and ``İ`` U+0130 → ``i`` + combining dot
    — and is default-locale-sensitive, so a cluster with heterogeneous
    executor locales could hash the SAME document to different shingles.
    DuckDB's utf8proc ``lower`` is the simple mapping (Σ→σ always,
    İ→i). The Spark fragment pre-maps the only two lowercase
    SpecialCasing triggers DIRECTLY TO THEIR LOWERCASE simple forms
    (Σ→σ, İ→i) so both engines land on the simple mapping and neither
    pre-mapped character re-enters the locale-sensitive ``lower()``
    (mapping İ to uppercase ``I`` would route it back through exactly
    the Turkish-locale hazard this fix neutralizes). Found by the r07
    unicode fuzz axis; the ASCII testdata never exercises it. Residual
    caveat, documented not guarded: under a Turkish/Azeri default JVM
    locale, ASCII ``I`` already present in the text still lowers to
    ``ı`` — production clusters must pin ``user.language`` (standard
    Spark practice).

    Trim is pinned to ASCII-space-only via DuckDB's explicit
    ``trim(x, ' ')``: its bare ``trim`` strips UNICODE spaces
    (NBSP, ideographic space) where Spark's strips only 0x20 — a
    doc whose last token carries a trailing NBSP (splice artifacts
    do this) normalized differently (also r07 unicode axis). After
    the ``\\s+``→space collapse the edges are ASCII spaces anyway,
    so the explicit form only stops the over-trim."""
    if engine == "spark":
        return (
            f"trim(regexp_replace(lower(translate({text_col}, "
            f"'Σİ', 'σi')), '\\\\s+', ' '))"
        )
    return f"trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g'), ' ')"


def tokens_expr(text_col: str, engine: str = "spark") -> str:
    """Normalized non-empty token list as a SQL fragment — the shared
    tokenize-and-drop-empties step over :func:`norm_text` (split on the
    single collapsed space, drop '' artifacts from leading whitespace).
    One definition so a tokenization fix lands everywhere at once
    (hashed_tf_embed, unigram_lm, doc_chunk and their oracles all
    consume it; an r07 review found the fragment copy-pasted six
    times)."""
    if engine == "spark":
        return f"filter(split({norm_text(text_col)}, ' '), t -> t <> '')"
    return (
        f"list_filter(string_split({norm_text(text_col, 'duck')}, ' '), "
        f"t -> t <> '')"
    )


def _shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str, k: int, *carry: str
) -> DataFrame:
    """(id, *carry, hashes): distinct 28-bit hashes of the k-word
    shingles of ``docs`` after a :func:`spread`. Tokenization =
    whitespace-normalize then split on single spaces, so both engines
    tokenize identically with no regex-escaping divergence. ``carry``
    columns (e.g. a blocking key) ride along in the same scan so
    callers never re-join the source table."""
    return _shingle_kernel(spread(docs, id_col), id_col, text_col, k, *carry)


def _shingle_kernel(
    docs: DataFrame, id_col: str, text_col: str, k: int, *carry: str
) -> DataFrame:
    """:func:`_shingle_hashes` at ``docs``' own partitioning."""
    toks = f"split({norm_text(text_col, 'spark')}, ' ')"
    shingles = (
        f"transform(sequence(0, size(__toks) - {k}), "
        f"i -> concat_ws(' ', slice(__toks, i + 1, {k})))"
    )
    return (
        docs.select(F.col(id_col), *carry, F.expr(toks).alias("__toks"))
        .filter(F.expr(f"size(__toks) >= {k}"))
        .select(F.col(id_col), *carry, F.expr(shingles).alias("__sh"))
        .select(
            F.col(id_col),
            *carry,
            F.expr(
                "array_distinct(transform(__sh, "
                "s -> cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint)))"
            ).alias("hashes"),
        )
    )


def _band_pairs(
    banded: DataFrame,
    id_col: str,
    band_cols: Sequence[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 band value.
    posexplode → self-join on (band_idx, band_key): ONE shuffle keyed by
    band value, pairs generated only inside buckets.

    ``max_bucket`` is the hot-bucket guard for skewed corpora: a bucket
    holding m documents emits m·(m−1)/2 pairs, so one giant duplicate
    class (boilerplate pages, empty docs) turns the band join quadratic
    on a single key no matter how many executors exist. With the cap,
    postings in buckets larger than ``max_bucket`` are dropped BEFORE
    the self-join (a count-over-window on the bucket key — same shuffle
    partitioning the join needs anyway). Documents in a dropped bucket
    usually still pair via their other N_BANDS−1 bands; a class hot in
    EVERY band is precisely the degenerate near-equal cluster exact
    dedup already collapses. Default None keeps the exact LSH semantics
    (and the DuckDB oracle) unchanged."""
    exploded = banded.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "__band_idx", "__band_key"
        ),
    )
    if max_bucket is not None:
        w = Window.partitionBy("__band_idx", "__band_key")
        exploded = (
            exploded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.__band_idx") == F.col("b.__band_idx"))
            & (F.col("a.__band_key") == F.col("b.__band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


# --------------------------------------------------------------- exact

def dedup_exact(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: group by md5 of normalized text. Output one row per
    distinct normalized text: (norm_hash, n_docs, keep_id) with keep_id =
    the smallest document id (deterministic canonical representative).
    Map-side partial agg + one shuffle on the hash — the 100 TB shape."""
    return (
        spread(docs, id_col).select(
            F.expr(f"md5({norm_text(text_col)})").alias("norm_hash"),
            F.col(id_col),
        )
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def oracle_dedup_exact_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    SELECT md5({norm_text(text_col, "duck")}) AS norm_hash,
           count(*) AS n_docs, min({id_col}) AS keep_id
    FROM ({source_sql}) GROUP BY 1
    """


# ------------------------------------------------------ paragraph dedup

# One blank line separates paragraphs: the split regex (two-or-more
# newlines, so separator runs collapse to ONE boundary) and the join
# literal are module constants shared by the engine and the oracle
# generator — they cannot drift apart. Both regex dialects (Java for
# Spark's split, RE2 for DuckDB's regexp_split_to_array) read the same
# 5-char pattern string and both engines KEEP leading/trailing empty
# fields, so paragraph indexes line up bit-for-bit.
PARA_SPLIT_RE = r"\n\n+"
PARA_JOIN = "\n\n"


def paragraph_dedup(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Paragraph-level exact dedup — the corpus-preparation step C4,
    RefinedWeb and Dolma all apply before document-level dedup: split
    every document into paragraphs, keep each distinct (normalized)
    paragraph only at its FIRST occurrence corpus-wide (ordered by
    (id, paragraph index)), and reassemble what survives. Boilerplate
    (navigation, footers, subscribe-blocks) repeats across millions of
    pages and document-level dedup never touches it; this removes it in
    one pass. Reference analog: none (the reference has no corpus tier);
    semantics follow Raffel et al. (C4) §2.2's "three-sentence span"
    dedup simplified to whole paragraphs.

    Returns one row per input document that has ≥1 non-empty paragraph:
    ``(id, n_paras, n_kept, text_kept)`` — non-empty paragraph count,
    surviving count, and the surviving paragraphs re-joined in original
    order with one blank line. A fully-DUPLICATE document keeps
    ``text_kept = ''`` (it is not dropped — dropping is a policy the
    caller applies with a filter); a NULL-text or whitespace-only
    document has no paragraphs at all and is ABSENT from the output
    (mirrored by the oracle), so callers joining back must use a left
    join if they need those ids.

    100 TB shape: explode is narrow; the keep-first winner per paragraph
    hash is a groupBy(min(struct)) — map-side partial agg, so a
    boilerplate paragraph on a billion pages reduces inside each task
    before one row per hash shuffles (the reason this is NOT a
    row_number window over the hash, which would sort the billion-row
    class on one task). The winner join back is shuffle-on-hash with a
    1-row build side per key; AQE skew-split handles the hot probe
    partitions (session.py enables it). Reassembly groups by doc —
    bounded by document size."""
    # feeds the winner agg, the join probe AND the per-doc count — three
    # consumers of one explode lineage (see pin/pin_scope contract)
    paras = pin(_para_rows(spread(docs, id_col), id_col, text_col))
    return _para_reassemble(paras, _para_winners(paras, id_col), id_col)


def _para_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __idx, __para, __h): the non-empty paragraphs of each doc
    with 0-based split index and normalized-text hash — the shared
    explode step of :func:`paragraph_dedup` and :class:`ParagraphIndex`,
    at ``docs``' own partitioning."""
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), PARA_SPLIT_RE)).alias(
                "__idx", "__para"
            ),
        )
        .withColumn("__norm", F.expr(norm_text("__para")))
        .filter(F.col("__norm") != "")
        .select(id_col, "__idx", "__para", F.md5("__norm").alias("__h"))
    )


def _para_winners(paras: DataFrame, id_col: str) -> DataFrame:
    """The keep-first surviving rows of a ``_para_rows`` table: one
    row per distinct hash, the corpus-min ``(id, idx)`` occurrence.
    groupBy(min(struct)) + join back — NOT a row_number window over
    the hash, whose single-task sort a billion-row boilerplate class
    would break (see :func:`paragraph_dedup`). One definition so the
    tie-break invariant cannot drift between the one-shot operator,
    the row view, and the incremental index."""
    winners = paras.groupBy("__h").agg(
        F.min(
            F.struct(F.col(id_col).alias("w_id"), F.col("__idx").alias("w_idx"))
        ).alias("__w")
    )
    return paras.join(winners, "__h").filter(
        (F.col(id_col) == F.col("__w.w_id"))
        & (F.col("__idx") == F.col("__w.w_idx"))
    )


def paragraph_dedup_rows(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Row-granularity view of :func:`paragraph_dedup`: just the
    surviving ``(id, idx, para, para_hash)`` rows — the batch twin of
    ``streaming_paragraph_dedup``'s output shape (the streaming
    equivalence harness compares the two frame-for-frame)."""
    paras = pin(_para_rows(spread(docs, id_col), id_col, text_col))
    return _para_winners(paras, id_col).select(
        F.col(id_col),
        F.col("__idx").alias("idx"),
        F.col("__para").alias("para"),
        F.col("__h").alias("para_hash"),
    )


def _para_reassemble(
    paras: DataFrame, kept: DataFrame, id_col: str
) -> DataFrame:
    """Per-doc output shape shared by the one-shot and incremental
    paragraph dedup: total non-empty paragraphs, survivors, and the
    survivors re-joined in original order (collect_list is bounded by
    document size)."""
    per_doc = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    kept_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__para"))),
                lambda x: x["__para"],
            ),
            PARA_JOIN,
        ).alias("text_kept"),
    )
    return per_doc.join(kept_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("text_kept"), F.lit("")).alias("text_kept"),
    )


def oracle_paragraph_dedup_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`paragraph_dedup`. The oracle marks keepers
    with a row_number window over the hash (fine at oracle scale; the
    engine's groupBy(min(struct)) computes the same keep-first choice
    without the single-task sort). Parallel ``unnest`` of the split
    array and ``range(0, len)`` zips element with 0-based index —
    DuckDB's posexplode."""
    norm = norm_text("para", "duck")
    return f"""
    WITH src AS ({source_sql}),
    split_t AS (
      SELECT {id_col},
             regexp_split_to_array({text_col}, '{PARA_SPLIT_RE}') AS arr
      FROM src
    ),
    exploded AS (
      SELECT {id_col}, unnest(arr) AS para,
             unnest(range(0, len(arr))) AS idx
      FROM split_t
    ),
    paras AS (
      SELECT {id_col}, idx, para, md5({norm}) AS h
      FROM exploded WHERE {norm} <> ''
    ),
    flagged AS (
      SELECT *,
             row_number() OVER (PARTITION BY h ORDER BY {id_col}, idx) AS rn
      FROM paras
    )
    SELECT {id_col},
           count(*) AS n_paras,
           CAST(coalesce(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                               chr(10)||chr(10) ORDER BY idx), '')
             AS text_kept
    FROM flagged GROUP BY {id_col}
    """


# --------------------------------------------------------------- minhash

def dedup_minhash(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dedup. Returns verified candidate pairs
    (doc_a, doc_b, jaccard) with exact shingle-set Jaccard ≥ threshold,
    candidates restricted to pairs colliding in ≥1 of the signature's
    bands. Plan: shingle+sign (narrow), band explode + self-join on band
    key (one shuffle), two id-joins for verification. No all-pairs stage
    anywhere. ``max_bucket`` (optional) drops postings in band buckets
    larger than the cap before pairing — the skew guard for corpora with
    giant duplicate classes; see :func:`_band_pairs`."""
    hs = pin(_shingle_hashes(docs, id_col, text_col, k))
    # ONE traversal of each doc's hash array maintaining all 32 minima in
    # a fold accumulator (vs 32 separate array_min(transform(...)) passes
    # re-scanning the array per permutation). least(m, (a*h+b)%P) with
    # init P ≡ array_min of the transformed array, since every hash value
    # is < P; the permutation constants are identical, so the DuckDB
    # oracle is unchanged.
    consts = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in MINHASH_PERMS
    )
    sig_expr = (
        f"aggregate(hashes, array_repeat({P_MOD}L, {N_PERMS}), "
        f"(acc, h) -> zip_with(acc, array({consts}), "
        f"(m, c) -> least(m, (c.a * h + c.b) % {P_MOD}L)))"
    )
    sigs = hs.select(F.col(id_col), F.expr(sig_expr).alias("__sig"))
    band_cols = []
    for bi in range(N_BANDS):
        members = ", ".join(
            f"cast(__sig[{bi * ROWS_PER_BAND + r}] as string)"
            for r in range(ROWS_PER_BAND)
        )
        band_cols.append(f"__b{bi}")
        sigs = sigs.withColumn(f"__b{bi}", F.expr(f"md5(concat_ws('-', {members}))"))
    pairs = _band_pairs(
        sigs.select(id_col, *band_cols), id_col, band_cols, max_bucket
    )
    x = hs.select(F.col(id_col).alias("doc_a"), F.col("hashes").alias("__ha"))
    y = hs.select(F.col(id_col).alias("doc_b"), F.col("hashes").alias("__hb"))
    jac = F.expr(
        "cast(size(array_intersect(__ha, __hb)) as double) / "
        "cast(size(array_union(__ha, __hb)) as double)"
    )
    return (
        pairs.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round("__jac", 6).alias("jaccard"))
    )


def oracle_dedup_minhash_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB SQL reproducing dedup_minhash EXACTLY (same shingles, same
    hash family and constants, same banding) — the oracle validates the
    full LSH algorithm, not just the verification step."""
    gram = " || ' ' || ".join(f"__toks[i + {d}]" for d in range(k))
    sig_exprs = ",\n      ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {P_MOD})) AS __s{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    band_exprs = ",\n      ".join(
        "md5(concat_ws('-', "
        + ", ".join(
            f"cast(__s{bi * ROWS_PER_BAND + r} as varchar)"
            for r in range(ROWS_PER_BAND)
        )
        + f")) AS __b{bi}"
        for bi in range(N_BANDS)
    )
    band_match = " OR ".join(f"a.__b{bi} = b.__b{bi}" for bi in range(N_BANDS))
    return f"""
    WITH src AS ({source_sql}),
    tok AS (
      SELECT {id_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __toks
      FROM src
    ),
    sh AS (
      SELECT {id_col},
             list_transform(range(1, len(__toks) - {k - 1} + 1),
                            i -> {gram}) AS __sh
      FROM tok WHERE len(__toks) >= {k}
    ),
    hs AS (
      SELECT {id_col},
             list_distinct(list_transform(__sh,
               s -> cast('0x' || substr(md5(s), 1, 7) AS BIGINT))) AS hashes
      FROM sh
    ),
    sig AS (
      SELECT {id_col}, hashes,
      {sig_exprs}
      FROM hs
    ),
    bands AS (
      SELECT {id_col},
      {band_exprs}
      FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM bands a JOIN bands b
        ON a.{id_col} < b.{id_col} AND ({band_match})
    ),
    verified AS (
      SELECT p.doc_a, p.doc_b,
        CAST(len(list_intersect(x.hashes, y.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(x.hashes, y.hashes))) AS DOUBLE)
          AS __jac
      FROM pairs p
      JOIN hs x ON p.doc_a = x.{id_col}
      JOIN hs y ON p.doc_b = y.{id_col}
    )
    SELECT doc_a, doc_b, round(__jac, 6) AS jaccard
    FROM verified WHERE __jac >= {threshold}
    """


# --------------------------------------------------------------- simhash

def dedup_simhash(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dedup: 60-bit fingerprint from distinct-token hashes,
    candidate pairs via 4×15-bit chunk blocking (pigeonhole: Hamming ≤ 3
    flips at most 3 chunks, so every qualifying pair shares ≥1 chunk —
    exact recall), verified with bit_count(xor) ≤ max_hamming.
    Output: (doc_a, doc_b, hamming)."""
    if max_hamming >= SIMHASH_CHUNKS:
        raise ValueError("chunk blocking guarantees recall only for "
                         f"max_hamming < {SIMHASH_CHUNKS}")
    toks = (
        f"array_distinct(transform(split({norm_text(text_col, 'spark')}, ' '), "
        "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)))"
    )
    base = (
        spread(docs, id_col)
        .filter(F.expr(f"length({norm_text(text_col, 'spark')}) > 0"))
        .select(F.col(id_col), F.expr(toks).alias("__th"))
    )
    # ONE traversal of the token-hash array maintaining all 60 signed
    # bit-counts in an array accumulator (indexed transform), instead of
    # 60 separate aggregate() passes per row — identical integer result
    # (±1 sums are order-independent), ~CHUNK_BITS×SIMHASH_CHUNKS less
    # array traffic; same fold the minhash signature computation uses
    n_bits = SIMHASH_CHUNKS * CHUNK_BITS
    bitsum = (
        f"aggregate(__th, array_repeat(0L, {n_bits}), "
        "(acc, h) -> transform(acc, (a, i) -> "
        "a + (shiftright(h, i) % 2) * 2 - 1))"
    )
    base = base.withColumn("__bs", F.expr(bitsum))
    chunk_cols = []
    for m in range(SIMHASH_CHUNKS):
        bits = " + ".join(
            f"(case when element_at(__bs, {m * CHUNK_BITS + j + 1}) > 0 "
            f"then {1 << j}L else 0L end)"
            for j in range(CHUNK_BITS)
        )
        chunk_cols.append(f"__c{m}")
        base = base.withColumn(f"__c{m}", F.expr(bits))
    base = base.drop("__bs")
    sim = " + ".join(
        f"__c{m} * {1 << (m * CHUNK_BITS)}L" for m in range(SIMHASH_CHUNKS)
    )
    # pin AFTER the 60 bit-count aggregates: three downstream branches
    # (band pairs, both verify sides) would otherwise recompute them
    base = pin(base.withColumn("__sim", F.expr(sim)).drop("__th"))
    pairs = _band_pairs(base.select(id_col, *chunk_cols), id_col, chunk_cols)
    x = base.select(F.col(id_col).alias("doc_a"), F.col("__sim").alias("__sa"))
    y = base.select(F.col(id_col).alias("doc_b"), F.col("__sim").alias("__sb"))
    return (
        pairs.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("hamming", F.expr("cast(bit_count(__sa ^ __sb) as int)"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("doc_a", "doc_b", "hamming")
    )


def oracle_dedup_simhash_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> str:
    chunk_exprs = []
    for m in range(SIMHASH_CHUNKS):
        bits = " + ".join(
            f"(case when list_sum(list_transform(__th, "
            f"h -> ((h >> {m * CHUNK_BITS + j}) % 2) * 2 - 1)) > 0 "
            f"then {1 << j} else 0 end)"
            for j in range(CHUNK_BITS)
        )
        chunk_exprs.append(f"({bits}) AS __c{m}")
    sim = " + ".join(
        f"cast(__c{m} as bigint) * {1 << (m * CHUNK_BITS)}"
        for m in range(SIMHASH_CHUNKS)
    )
    chunk_match = " OR ".join(
        f"a.__c{m} = b.__c{m}" for m in range(SIMHASH_CHUNKS)
    )
    return f"""
    WITH src AS ({source_sql}),
    tok AS (
      SELECT {id_col},
        list_distinct(list_transform(
          string_split({norm_text(text_col, "duck")}, ' '),
          t -> cast('0x' || substr(md5(t), 1, 15) AS BIGINT))) AS __th
      FROM src
      WHERE length({norm_text(text_col, "duck")}) > 0
    ),
    chunks AS (
      SELECT {id_col}, {", ".join(chunk_exprs)}
      FROM tok
    ),
    sims AS (
      SELECT *, {sim} AS __sim FROM chunks
    ),
    pairs AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM sims a JOIN sims b
        ON a.{id_col} < b.{id_col} AND ({chunk_match})
    )
    SELECT p.doc_a, p.doc_b,
      cast(bit_count(xor(x.__sim, y.__sim)) AS INT) AS hamming
    FROM pairs p
    JOIN sims x ON p.doc_a = x.{id_col}
    JOIN sims y ON p.doc_b = y.{id_col}
    WHERE bit_count(xor(x.__sim, y.__sim)) <= {max_hamming}
    """


# --------------------------------------------------------------- jaccard

def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard within a blocking column — the exact baseline
    dedup_minhash approximates.

    Candidate generation is PPJoin-style prefix filtering (Xiao, Wang,
    Lin, Yu: "Efficient Similarity Joins for Near Duplicate Detection",
    WWW'08): order each doc's shingles by global rarity (document
    frequency, then hash); any pair with jaccard ≥ t must share a
    shingle inside BOTH docs' first ``n − ceil(t·n) + 1`` shingles, so
    only those prefix postings are self-joined — hot shingles outside
    prefixes never pair up. A size filter (min ≥ t·max) prunes further;
    survivors are verified with an exact array intersection. The result
    set is exactly the all-pairs answer; only the candidate count
    shrinks."""
    hs = _shingle_hashes(docs, id_col, text_col, k, block_col)
    sizes = pin(
        hs.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col),
            F.size("hashes").alias("__n"),
            F.col("hashes"),
        )
    )
    ex = sizes.select("__blk", id_col, "__n", F.explode("hashes").alias("__h"))
    # Document frequency as a count-over-window on the posting key: one
    # shuffle of the exploded shingles instead of groupBy + re-join (two).
    w_df = Window.partitionBy("__blk", "__h")
    w = Window.partitionBy("__blk", id_col).orderBy(
        F.col("__df").asc(), F.col("__h").asc()
    )
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ranked = (
        ex.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
    )
    if max_df is not None:
        # hot-shingle guard (the ngram_containment_pairs max_df
        # contract, see there): symmetric here — both sides are
        # prefix-filtered already, so fan-out needs hot shingles in
        # BOTH prefixes (degenerate stopword docs pairing with each
        # other); the cap bounds that too. Under-merge only.
        ranked = ranked.filter(F.col("__df") <= F.lit(int(max_df)))
    prefix = pin(ranked.select("__blk", "__h", id_col, "__n"))
    a = prefix.select(
        "__blk", "__h",
        F.col(id_col).alias("doc_a"), F.col("__n").alias("__na"),
    )
    b = prefix.select(
        "__blk", "__h",
        F.col(id_col).alias("doc_b"), F.col("__n").alias("__nb"),
    )
    cand = (
        a.join(b, ["__blk", "__h"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("__na", "__nb").cast("double")
                >= F.lit(threshold) * F.greatest("__na", "__nb").cast("double")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = sizes.select(F.col(id_col).alias("doc_a"), F.col("hashes").alias("__ha"))
    y = sizes.select(F.col(id_col).alias("doc_b"), F.col("hashes").alias("__hb"))
    jac = F.expr(
        "cast(size(array_intersect(__ha, __hb)) as double) / "
        "cast(size(array_union(__ha, __hb)) as double)"
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round("__jac", 6).alias("jaccard"))
    )


def oracle_ngram_jaccard_sql(
    source_sql: str = "SELECT doc_id, text, lang FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.5,
) -> str:
    gram = " || ' ' || ".join(f"__toks[i + {d}]" for d in range(k))
    return f"""
    WITH src AS ({source_sql}),
    tok AS (
      SELECT {id_col}, {block_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __toks
      FROM src
    ),
    hs AS (
      SELECT {id_col}, {block_col},
        list_distinct(list_transform(
          list_transform(range(1, len(__toks) - {k - 1} + 1), i -> {gram}),
          s -> cast('0x' || substr(md5(s), 1, 7) AS BIGINT))) AS hashes
      FROM tok WHERE len(__toks) >= {k}
    ),
    j AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
        CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.hashes, b.hashes))) AS DOUBLE)
          AS __jac
      FROM hs a JOIN hs b
        ON a.{block_col} = b.{block_col} AND a.{id_col} < b.{id_col}
    )
    SELECT doc_a, doc_b, round(__jac, 6) AS jaccard
    FROM j WHERE __jac >= {threshold}
    """


def ngram_containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT within a blocking column: ordered pairs
    (doc_a, doc_b) where C(a→b) = |S_a ∩ S_b| / |S_a| ≥ ``threshold``
    — "doc_a is t-contained in doc_b". Containment is the ASYMMETRIC
    companion to :func:`ngram_jaccard_pairs`: Jaccard misses the
    quote/boilerplate-inclusion class (a paragraph wholly copied into a
    10× longer page has tiny Jaccard but containment 1.0), which is a
    first-order duplication mode in web training corpora (the
    motivation for suffix-based dedup in Lee et al. ACL'22,
    "Deduplicating Training Data Makes Language Models Better" —
    :func:`substring_dedup` is the position-exact variant; this is the
    set-level one, and unlike it, robust to small edits inside the
    copied span).

    Candidate generation is the asymmetric prefix filter (Xiao et al.
    WWW'08, §PPJoin for overlap constraints): C(a→b) ≥ t needs overlap
    ≥ ceil(t·|S_a|), so a qualifying pair must share a shingle within
    doc_a's first ``|S_a| − ceil(t·|S_a|) + 1`` rarest shingles — ONLY
    the contained side is prefix-filtered; the containing side posts
    every shingle (an overlap witness can sit anywhere in b). A size
    filter ``|S_b| ≥ ceil(t·|S_a|)`` prunes further; survivors verify
    with an exact array intersection, so the result set is exactly the
    all-ordered-pairs answer.

    100 TB shape: one shuffle of the exploded shingles keyed by
    (block, shingle) — document frequency and the rarity prefix reuse
    the partitioning the candidate join needs. The b side is
    corpus-shingle-sized, but join fan-out is bounded by the A-PREFIX
    postings per key: prefixes keep only each doc's globally RAREST
    shingles, so a hot (stopword) shingle carries many b postings yet
    almost no prefix postings, and emits almost no candidates. Self
    pairs are excluded; both directions of a mutual near-dup pair
    emit (each is evidence; downstream keeps lowest-id via
    :func:`connected_components` on the undirected projection).

    ``max_df`` (r09) is the family's hot-key guard (the max_bucket /
    max_cell pattern from :func:`dedup_minhash_pairs` and
    semantic_dedup): the rarity ordering alone does not bound fan-out
    for a DEGENERATE document — an all-stopword doc's prefix IS its
    corpus-hot shingles, and each one joins against the full b-side
    posting list for that shingle. With ``max_df`` set, shingles whose
    (block, shingle) document frequency exceeds it are excluded from
    CANDIDATE GENERATION (both posting sides), bounding per-key join
    fan-out at prefix_postings × max_df. Verification stays exact on
    the full shingle arrays, so the contract is under-MERGE, never
    mis-merge: a qualifying pair is lost only if every a-prefix shingle
    it shares is corpus-hot — exactly the boilerplate class a
    containment dedup wants rate-limited, and the same direction of
    error as max_bucket (drop detections, never invent them). Size it
    at the posting-list length an executor comfortably joins (1e3-1e5);
    measured corpus max df at the bench scales is ≤ 14, so the plumbed
    test-scale cap of 1000 is inert there by two orders of magnitude.
    Reference parity: the reference repo has no containment op; this
    extends the BASELINE.json dedup tier (SURVEY §2.7 set-ops family).
    """
    hs = _shingle_hashes(docs, id_col, text_col, k, block_col)
    sizes = pin(
        hs.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col),
            F.size("hashes").alias("__n"),
            F.col("hashes"),
        )
    )
    ex = sizes.select("__blk", id_col, "__n", F.explode("hashes").alias("__h"))
    w_df = Window.partitionBy("__blk", "__h")
    w = Window.partitionBy("__blk", id_col).orderBy(
        F.col("__df").asc(), F.col("__h").asc()
    )
    # overlap lower bound ceil(t·n) ⇒ prefix length n − ceil(t·n) + 1
    need = F.ceil(F.lit(threshold) * F.col("__n"))
    # pinned ONCE and read by both join sides: the contained side
    # filters to its rarity prefix, the containing side posts all rows
    # (df only orders the prefix rank; dropped before the pin). The
    # rank is computed BEFORE the max_df guard so the prefix stays the
    # doc's true rarity prefix — the guard then removes hot postings
    # from both sides (under-merge contract above).
    ranked = ex.withColumn(
        "__df", F.count(F.lit(1)).over(w_df)
    ).withColumn("__rn", F.row_number().over(w))
    if max_df is not None:
        ranked = ranked.filter(F.col("__df") <= F.lit(int(max_df)))
    withdf = pin(ranked.select("__blk", "__h", id_col, "__n", "__rn"))
    a = withdf.filter(
        F.col("__rn") <= F.col("__n") - need + 1
    ).select(
        "__blk", "__h",
        F.col(id_col).alias("doc_a"), F.col("__n").alias("__na"),
    )
    b = withdf.select(
        "__blk", "__h",
        F.col(id_col).alias("doc_b"), F.col("__n").alias("__nb"),
    )
    cand = (
        a.join(b, ["__blk", "__h"])
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (
                F.col("__nb").cast("double")
                >= F.ceil(F.lit(threshold) * F.col("__na")).cast("double")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = sizes.select(F.col(id_col).alias("doc_a"), F.col("hashes").alias("__ha"))
    y = sizes.select(F.col(id_col).alias("doc_b"), F.col("hashes").alias("__hb"))
    cont = F.expr(
        "cast(size(array_intersect(__ha, __hb)) as double) / "
        "cast(size(__ha) as double)"
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("__c", cont)
        .filter(F.col("__c") >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round("__c", 6).alias("containment"))
    )


def oracle_ngram_containment_sql(
    source_sql: str = "SELECT doc_id, text, lang FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.6,
) -> str:
    """DuckDB twin of :func:`ngram_containment_pairs` — brute-force
    all ordered pairs per block with the identical md5-prefix shingle
    hash; the engine's prefix filter is an exact optimization, so the
    result sets must be identical."""
    gram = " || ' ' || ".join(f"__toks[i + {d}]" for d in range(k))
    return f"""
    WITH src AS ({source_sql}),
    tok AS (
      SELECT {id_col}, {block_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __toks
      FROM src
    ),
    hs AS (
      SELECT {id_col}, {block_col},
        list_distinct(list_transform(
          list_transform(range(1, len(__toks) - {k - 1} + 1), i -> {gram}),
          s -> cast('0x' || substr(md5(s), 1, 7) AS BIGINT))) AS hashes
      FROM tok WHERE len(__toks) >= {k}
    ),
    c AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
        CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)
          / CAST(len(a.hashes) AS DOUBLE) AS __c
      FROM hs a JOIN hs b
        ON a.{block_col} = b.{block_col} AND a.{id_col} <> b.{id_col}
    )
    SELECT doc_a, doc_b, round(__c, 6) AS containment
    FROM c WHERE __c >= {threshold}
    """


def dedup_against(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-corpus dedup (NEW r09): one row per NEW document that is
    an exact n-gram near-duplicate (Jaccard ≥ ``threshold`` within
    ``block_col``) of ANY REFERENCE document —
    ``(doc_id, n_ref_matches, best_ref, best_jaccard)`` with a
    deterministic champion (highest 6-dp jaccard, lowest ref id on
    ties). This is the incremental-ingest shape every growing corpus
    needs: dedup the new crawl AGAINST the existing corpus without
    re-pairing the existing corpus with itself —
    :func:`ngram_jaccard_pairs` is the within-corpus variant, and
    MinHashIndex the sketch-based incremental tier. A document present
    in both frames matches itself at 1.0 by design (it IS already in
    the reference).

    Candidate generation is the same PPJoin prefix filter as
    :func:`ngram_jaccard_pairs` — the prefix lemma holds for any
    global shingle order shared by both sides, so both corpora are
    UNIONED with a side flag and document frequency + rarity rank are
    computed over the union in ONE (block, shingle) shuffle; the
    candidate join then pairs new-side prefix postings with ref-side
    prefix postings only (never new×new or ref×ref). Exact
    array-intersect verification on survivors keeps the result
    identical to brute force. ``max_df`` is the family's hot-shingle
    guard (under-report, never a false match).

    100 TB shape: one exploded-union shuffle reused by df, rank, and
    the candidate join; per-new-doc aggregation is bounded by that
    doc's match fan-in. The asymmetry is the point at scale: the ref
    corpus contributes only prefix postings and verification arrays —
    it is never self-joined, so adding a 1% daily increment costs the
    increment's pairs, not a re-dedup of the whole corpus."""
    hs = pin(
        _shingle_hashes(new_docs, id_col, text_col, k, block_col)
        .withColumn("__side", F.lit(0))
        .unionByName(
            _shingle_hashes(ref_docs, id_col, text_col, k, block_col)
            .withColumn("__side", F.lit(1))
        )
        .select(
            F.col(block_col).alias("__blk"),
            "__side",
            F.col(id_col),
            F.size("hashes").alias("__n"),
            F.col("hashes"),
        )
    )
    ex = hs.select(
        "__blk", "__side", id_col, "__n", F.explode("hashes").alias("__h")
    )
    w_df = Window.partitionBy("__blk", "__h")
    w = Window.partitionBy("__blk", "__side", id_col).orderBy(
        F.col("__df").asc(), F.col("__h").asc()
    )
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ranked = (
        ex.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
    )
    if max_df is not None:
        ranked = ranked.filter(F.col("__df") <= F.lit(int(max_df)))
    prefix = pin(ranked.select("__blk", "__side", "__h", id_col, "__n"))
    a = prefix.filter(F.col("__side") == 0).select(
        "__blk", "__h",
        F.col(id_col).alias("__new"), F.col("__n").alias("__na"),
    )
    b = prefix.filter(F.col("__side") == 1).select(
        "__blk", "__h",
        F.col(id_col).alias("__ref"), F.col("__n").alias("__nb"),
    )
    cand = (
        a.join(b, ["__blk", "__h"])
        .filter(
            F.least("__na", "__nb").cast("double")
            >= F.lit(threshold) * F.greatest("__na", "__nb").cast("double")
        )
        .select("__new", "__ref")
        .distinct()
    )
    x = hs.filter(F.col("__side") == 0).select(
        F.col(id_col).alias("__new"), F.col("hashes").alias("__ha")
    )
    y = hs.filter(F.col("__side") == 1).select(
        F.col(id_col).alias("__ref"), F.col("hashes").alias("__hb")
    )
    jac = F.expr(
        "cast(size(array_intersect(__ha, __hb)) as double) / "
        "cast(size(array_union(__ha, __hb)) as double)"
    )
    pairs = (
        cand.join(x, "__new")
        .join(y, "__ref")
        .withColumn("__raw", jac)
        .filter(F.col("__raw") >= F.lit(threshold))
        .withColumn("__jac", F.round("__raw", 6))
    )
    wmax = Window.partitionBy("__new")
    return (
        pairs.withColumn("__mj", F.max("__jac").over(wmax))
        .groupBy(F.col("__new").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_ref_matches"),
            F.min(
                F.when(F.col("__jac") == F.col("__mj"), F.col("__ref"))
            ).alias("best_ref"),
            F.max("__jac").alias("best_jaccard"),
        )
    )


def oracle_dedup_against_sql(
    new_sql: str = "SELECT doc_id, text, lang FROM documents "
                   "WHERE doc_id % 3 = 0",
    ref_sql: str = "SELECT doc_id, text, lang FROM documents "
                   "WHERE doc_id % 3 <> 0",
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`dedup_against` — brute-force new×ref per
    block with the identical shingle hash, raw-jaccard threshold, 6-dp
    rounding, and champion tie-break; the engine's prefix filter is an
    exact optimization, so the reports must be identical."""
    gram = " || ' ' || ".join(f"__toks[i + {d}]" for d in range(k))
    ngrams = f"""
      SELECT {id_col}, {block_col},
        list_distinct(list_transform(
          list_transform(range(1, len(__toks) - {k - 1} + 1), i -> {gram}),
          s -> cast('0x' || substr(md5(s), 1, 7) AS BIGINT))) AS hashes
      FROM (SELECT {id_col}, {block_col},
                   string_split({norm_text(text_col, "duck")}, ' ') AS __toks
            FROM __SRC__)
      WHERE len(__toks) >= {k}
    """
    return f"""
    WITH newsrc AS ({new_sql}),
    refsrc AS ({ref_sql}),
    hn AS ({ngrams.replace("__SRC__", "newsrc")}),
    hr AS ({ngrams.replace("__SRC__", "refsrc")}),
    j AS (
      SELECT n.{id_col} AS {id_col}, r.{id_col} AS __ref,
        CAST(len(list_intersect(n.hashes, r.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(n.hashes, r.hashes)))
                 AS DOUBLE) AS __raw
      FROM hn n JOIN hr r ON n.{block_col} = r.{block_col}
    ),
    f AS (
      SELECT {id_col}, __ref, round(__raw, 6) AS __jac
      FROM j WHERE __raw >= {threshold}
    ),
    m AS (
      SELECT *, max(__jac) OVER (PARTITION BY {id_col}) AS __mj FROM f
    )
    SELECT {id_col},
      CAST(count(*) AS BIGINT) AS n_ref_matches,
      CAST(min(CASE WHEN __jac = __mj THEN __ref END) AS BIGINT)
        AS best_ref,
      max(__jac) AS best_jaccard
    FROM m GROUP BY {id_col}
    """


# ------------------------------------------------------------ bloom dedup

def _bloom_pos_expr(
    key: str, n_hashes: int, m_bits: int, engine: str = "spark"
) -> str:
    """The ``n_hashes`` bloom bit positions of a key as a SQL array
    fragment — position j = md5-prefix48("j:" + key) mod ``m_bits``,
    the repo's standard cross-engine hash (the hashed_tf_embed /
    MinHash-shingle family; 12 hex chars = 48 bits keeps the value
    positive, so DuckDB's ``%`` equals Spark's ``pmod``). The index
    array is the OUTER constructor in both engines, so a NULL key
    yields ``n_hashes`` NULL elements (never a NULL/empty array) and
    explode/unnest keep the row count identical cross-engine.

    The seed-prefix concatenation is ``||`` on the DuckDB side, NOT
    ``concat``: SQL-standard ``concat`` SKIPS NULL arguments, so
    ``concat(j, ':', NULL)`` is the real key ``'j:'`` with real
    positions where Spark's ``concat`` NULL-propagates — with a
    NULL-text doc on BOTH sides the oracle alone matched all bits
    (found by the r09 fresh-seed docs fuzz, seed 9317, promoted into
    the committed fixtures; the fixed testdata has no NULL texts and
    never exercised it). ``||`` NULL-propagates in both engines."""
    if engine == "spark":
        return (
            f"transform(sequence(0, {n_hashes - 1}), j -> "
            f"pmod(cast(conv(substring(md5(concat(cast(j as string), ':', "
            f"{key})), 1, 12), 16, 10) as bigint), {m_bits}))"
        )
    return (
        f"list_transform(range(0, {n_hashes}), j -> "
        f"cast('0x' || substr(md5(cast(j as varchar) || ':' || "
        f"{key}), 1, 12) AS BIGINT) % {m_bits})"
    )


def bloom_dedup(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental ingest: flag
    each NEW document whose exact-dedup key (md5 of normalized text,
    the :func:`dedup_exact` convention) is *possibly* already in the
    REFERENCE corpus — ``(doc_id, n_bits_hit, maybe_dup)``, where
    ``maybe_dup`` means all ``n_hashes`` bloom bits are set. Classic
    bloom semantics: NO false negatives (a doc whose normalized text
    is in the reference is always flagged — the property test), a
    deterministic false-positive rate governed by the fill ratio
    (≈ (n_ref·n_hashes/m_bits)^n_hashes) — the cheap first gate in
    front of :func:`dedup_against`'s exact verification, the way
    production ingest stacks a sketch in front of the pair join.

    Everything is deterministic (md5-derived positions, no SQL
    ``rand``), so the flags — false positives included — are
    bit-reproducible in the DuckDB twin (:func:`oracle_bloom_dedup_sql`
    re-derives the reference bit-set; it is never shipped as a
    literal).

    100 TB shape: the "filter" materializes as the DISTINCT set bit
    positions (≤ min(n_ref·n_hashes, m_bits) rows ≈ a bitmap in
    relational form) — broadcast when ``m_bits`` is bounded (the
    default 2^20 → ≤1M longs), a position-keyed shuffle join past
    that; the probe side is one narrow scan + an ``n_hashes``-way
    explode. On a real cluster the same plan upgrades to Spark 3.5's
    ``bitmap_construct_agg``/``getbit`` binary bitmaps without
    changing the query shape — kept relational here so the oracle
    stays engine-neutral. NULL-text docs can never match (NULL
    positions join nothing) and report ``n_bits_hit = 0``."""
    return _bloom_probe(
        spread(new_docs, id_col),
        _bloom_bits(spread(ref_docs, id_col), text_col, m_bits, n_hashes),
        id_col, text_col, m_bits, n_hashes,
    )


def _bloom_bits(
    ref_docs: DataFrame, text_col: str, m_bits: int, n_hashes: int
) -> DataFrame:
    """The reference corpus's DISTINCT set bit positions — the bloom
    'filter' in relational form, shared by :func:`bloom_dedup` and
    :class:`BloomIndex` — at ``ref_docs``' own partitioning."""
    pos = _bloom_pos_expr(
        f"md5({norm_text(text_col)})", n_hashes, m_bits, "spark"
    )
    return (
        ref_docs.select(F.explode(F.expr(pos)).alias("__pos"))
        .filter(F.col("__pos").isNotNull())
        .distinct()
    )


def _bloom_probe(
    new_docs: DataFrame, bits: DataFrame, id_col: str, text_col: str,
    m_bits: int, n_hashes: int,
) -> DataFrame:
    """Probe ``new_docs``, at their own partitioning, against a
    bit-position set from :func:`_bloom_bits` (freshly derived or read
    back from a :class:`BloomIndex`)."""
    pos = _bloom_pos_expr(
        f"md5({norm_text(text_col)})", n_hashes, m_bits, "spark"
    )
    ref_bits = bits.withColumn("__set", F.lit(1))
    if m_bits <= (1 << 22):
        ref_bits = F.broadcast(ref_bits)
    probe = new_docs.select(
        F.col(id_col), F.explode(F.expr(pos)).alias("__pos")
    )
    return (
        probe.join(ref_bits, "__pos", "left")
        .groupBy(id_col)
        .agg(F.count("__set").alias("n_bits_hit"))
        .select(
            id_col,
            "n_bits_hit",
            (F.col("n_bits_hit") == F.lit(n_hashes)).alias("maybe_dup"),
        )
    )


def oracle_bloom_dedup_sql(
    new_sql: str = "SELECT doc_id, text FROM documents "
                   "WHERE doc_id % 3 = 0",
    ref_sql: str = "SELECT doc_id, text FROM documents "
                   "WHERE doc_id % 3 <> 0",
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> str:
    key = f"md5({norm_text(text_col, 'duck')})"
    pos = _bloom_pos_expr(key, n_hashes, m_bits, "duck")
    return f"""
    WITH refd AS ({ref_sql}),
    newd AS ({new_sql}),
    rp AS (
      SELECT DISTINCT unnest({pos}) AS __pos FROM refd
    ),
    rpn AS (SELECT __pos, 1 AS __set FROM rp WHERE __pos IS NOT NULL),
    np AS (
      SELECT {id_col}, unnest({pos}) AS __pos FROM newd
    )
    SELECT np.{id_col},
      CAST(count(rpn.__set) AS BIGINT) AS n_bits_hit,
      CAST(count(rpn.__set) AS BIGINT) = {n_hashes} AS maybe_dup
    FROM np LEFT JOIN rpn USING (__pos)
    GROUP BY np.{id_col}
    """


class BloomIndex(StagedIndex):
    """Persistent incremental bloom membership filter — the
    :class:`MinHashIndex` pattern applied to the exact-membership
    pre-gate: the DISTINCT set bit positions of every ingested
    document's exact-dedup key live in one parquet table (``bits/``),
    so each new crawl batch probes the ENTIRE ingested history at the
    cost of one position join, without rereading any historical text.

    Batch-decomposition equivalence (the index contract): the bit set
    is a pure SET UNION over ingested keys, so after ingesting batches
    B₁..Bₙ in ANY order/partitioning, ``probe(X)`` equals
    ``bloom_dedup(X, B₁∪..∪Bₙ)`` exactly — positions carry no counts,
    nothing can be double-set. Pinned by the batch-equivalence test.
    Per :meth:`stage` batch, each doc is probed against HISTORY ONLY
    (its own batch's bits land in an uncommitted segment the probe
    never reads), the incremental-crawl semantics: within-batch
    duplicates are the batch's own dedup_exact problem. The commit is
    the :class:`~streamtasks_spark.core.state.Staging` ingest over the
    one table ``bits/``.

    Scale shape: the bits table is bounded by ``m_bits`` rows however
    much history accretes (saturation degrades precision, never
    correctness — size m_bits to the expected corpus cardinality);
    each ingest appends at most the batch's new positions. Append-mode
    parquet cannot dedup across files, so :meth:`probe` re-distincts
    the read-back set before joining (hit counts must count each bit
    once) and :meth:`compact` makes that fold durable while curing the
    small-files accretion. Doc ids need not be unique across ingests
    (membership is keyed on text, not id)."""

    def __init__(
        self,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        m_bits: int = 1 << 20,
        n_hashes: int = 5,
    ) -> None:
        self.path = str(path)
        self.bits_path = f"{self.path}/bits"
        self.id_col = id_col
        self.text_col = text_col
        self.m_bits = m_bits
        self.n_hashes = n_hashes

    def _history_bits(self, spark) -> DataFrame:
        old = snapshot_read(spark, self.bits_path)
        if old is None:
            return spark.createDataFrame([], "__pos bigint")
        # appended part-files can repeat a position (each ingest writes
        # its batch's distinct positions without reading history);
        # re-distinct here so n_bits_hit counts each bit once
        return old.select("__pos").distinct()

    def probe(self, docs: DataFrame) -> DataFrame:
        """(id, n_bits_hit, maybe_dup) for each doc against everything
        ingested so far; read-only."""
        return self._probe(spread(docs, self.id_col))

    def _probe(self, docs: DataFrame) -> DataFrame:
        return _bloom_probe(
            docs, self._history_bits(docs.sparkSession),
            self.id_col, self.text_col, self.m_bits, self.n_hashes,
        )

    def stage(self, docs: DataFrame, fence: dict | None = None):
        """Land the batch's bit positions and plan its :meth:`probe`
        flags against the history live before them, at ``docs``' own
        partitioning: ``(flags, commit)``, or None when the streaming
        ``fence`` is already committed."""
        st = Staging.open((self.bits_path,), fence)
        if st is None:
            return None
        flags = self._probe(docs)
        st.land(
            _bloom_bits(docs, self.text_col, self.m_bits, self.n_hashes),
            self.bits_path,
        )
        return flags, st.commit

    def compact(self, spark, *, files: int = 4) -> None:
        """Fold accreted part-files and cross-file duplicate positions
        back into one distinct set (see :func:`compact_table`;
        EXCLUSIVE access required, as for MinHashIndex)."""
        compact_table(
            spark, self.bits_path, files=files,
            transform=lambda df: df.select("__pos").distinct(),
        )


# ---------------------------------------------------- connected components

def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 50,
    max_local_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components of the duplicate-pair graph — the clustering
    step that turns near-dup PAIRS (from :func:`dedup_minhash` /
    :func:`dedup_simhash` / :func:`ngram_jaccard_pairs`) into duplicate
    CLASSES, so a corpus keeps one canonical document per class instead
    of dropping both ends of every pair.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    - large-star: every node connects its LARGER neighbors to its
      neighborhood minimum (including itself);
    - small-star: every node connects its smaller-or-equal neighbors
      (and itself) to its smallest neighbor.

    Each half-round is one window-min over the edge list partitioned by
    node plus a projection — no ``collect_list`` neighborhoods (a hot
    node's minimum comes from the window aggregate, so a
    million-neighbor node never materializes an array), and each round
    shuffles only the CURRENT edge set, never the corpus. Convergence
    is O(log n) rounds — unlike naive min-label propagation whose round
    count is the graph DIAMETER (a near-dup chain at 100 TB can be
    arbitrarily long). The loop materializes one scalar fingerprint per
    round (count + checksum of the canonical edge set) to detect the
    fixpoint; each round's edge set is ``localCheckpoint``-ed — persist
    alone does NOT truncate the logical plan, and an iterated plan
    nests exponentially (round ~8 OOMs the driver just BUILDING the
    plan string). On a cluster with lineage-loss concerns use
    ``sparkContext.setCheckpointDir`` + ``checkpoint`` instead.

    Adaptive small-graph path: duplicate-pair graphs are sparse by
    construction (LSH pairs are bounded by actual near-dups, not the
    corpus), so after the initial distinct the edge set is usually
    orders of magnitude smaller than the input table. When it fits
    under ``max_local_edges`` the components are solved with a driver
    union-find and returned as a (broadcastable) DataFrame — the same
    size-threshold reasoning as a broadcast join, and the count is free
    because the deduped edge set is already checkpoint-materialized.
    Above the threshold (or with ``max_local_edges=0``) the distributed
    star loop below runs unchanged — that is the 100 TB path; the
    local path just removes ~6 scheduler round-trips per star round
    for the common bounded case.

    Returns (node, component) for every node in ``pairs``, where
    ``component`` is the smallest node id of its component. Rows-only
    driver check is NOT needed: an exact DuckDB oracle exists via a
    recursive CTE (:func:`oracle_connected_components_sql`).
    """
    u, v = F.col("__u"), F.col("__v")
    node_t = pairs.schema[a_col].dataType.simpleString()
    edges = (
        pairs.select(F.col(a_col).alias("__u"), F.col(b_col).alias("__v"))
        .filter(u != v)
        .select(F.greatest(u, v).alias("__u"), F.least(u, v).alias("__v"))
        .distinct()
    )
    if max_local_edges > 0:
        # ONE bounded pull decides the path AND (under the bound)
        # delivers the edge list — previously checkpoint + count +
        # collect, i.e. three driver actions where one suffices (r11).
        # Over the bound, CollectLimit stops reading shortly past the
        # bound and the fall-through checkpoint's map stages reuse the
        # distinct's shuffle files (same lineage), so the 100 TB path
        # pays only a truncated extra reduce-side read.
        rows = edges.limit(max_local_edges + 1).collect()
        if len(rows) <= max_local_edges:
            parent: dict = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for row in rows:
                ra, rb = find(row["__u"]), find(row["__v"])
                if ra != rb:
                    # larger root points at smaller → final root IS the min
                    parent[max(ra, rb)] = min(ra, rb)
            members = [(x, find(x)) for x in parent]
            return pairs.sparkSession.createDataFrame(
                members, f"node {node_t}, component {node_t}"
            )
    edges = edges.localCheckpoint(eager=True)
    prev_fp = None
    for _ in range(max_iterations):
        # large-star: group the bidirectional edge list by node; attach
        # every neighbor LARGER than the node to the neighborhood min.
        bidir = edges.union(edges.select(v.alias("__u"), u.alias("__v")))
        w = Window.partitionBy("__u")
        ls = (
            bidir.withColumn("__m", F.least(F.min("__v").over(w), u))
            .filter(v > u)
            .select(v.alias("__u"), F.col("__m").alias("__v"))
            .distinct()
        )
        # small-star: edges point big→small; attach the node and all its
        # smaller neighbors to its smallest neighbor.
        w2 = Window.partitionBy("__u")
        mins = ls.withColumn("__m", F.min("__v").over(w2))
        ss = (
            mins.filter(v != F.col("__m"))
            .select(v.alias("__u"), F.col("__m").alias("__v"))
            .union(mins.select(u.alias("__u"), F.col("__m").alias("__v")))
            .distinct()
        )
        new_edges = ss.localCheckpoint(eager=True)
        # bit_xor, not sum: order-independent AND overflow-free under
        # ANSI mode (sum of 64-bit hashes throws ARITHMETIC_OVERFLOW)
        fp = new_edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(__u, __v))").alias("h"),
        ).collect()[0]
        edges = new_edges
        if prev_fp == (fp["n"], fp["h"]):
            break
        prev_fp = (fp["n"], fp["h"])
    roots = edges.select(v.alias("__node")).distinct().select(
        F.col("__node").alias("node"), F.col("__node").alias("component")
    )
    members = edges.select(u.alias("node"), v.alias("component"))
    return members.unionByName(roots).distinct()


def oracle_connected_components_sql(pairs_sql: str) -> str:
    """DuckDB oracle for :func:`connected_components`: min reachable
    node id per node, via a recursive CTE over the same pair list
    (UNION dedups the frontier, so the recursion terminates)."""
    return f"""
    WITH RECURSIVE
    __p AS (SELECT doc_a, doc_b FROM ({pairs_sql})),
    __e AS (
      SELECT doc_a AS u, doc_b AS v FROM __p
      UNION
      SELECT doc_b AS u, doc_a AS v FROM __p
    ),
    __walk(node, reach) AS (
      SELECT u, u FROM __e
      UNION
      SELECT w.node, e.v FROM __walk w JOIN __e e ON w.reach = e.u
    )
    SELECT node, min(reach) AS component
    FROM __walk GROUP BY node
    """


def dedup_retention(
    docs: DataFrame,
    components: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Corpus retention summary after near-dup clustering: per source,
    how many docs exist, how many sit in a duplicate class, and how
    many survive canonical-keep (class minimum kept, all other members
    dropped; docs in no class always survive).

    Scale shape: ``components`` is bounded by the number of DUPLICATE
    docs — orders of magnitude smaller than the corpus — so it
    broadcasts onto the doc scan; one narrow join + one low-cardinality
    groupBy, the corpus is scanned once."""
    comp = components.select(
        F.col("node").alias("__node"), F.col("component").alias("__comp")
    )
    joined = docs.select(id_col, source_col).join(
        F.broadcast(comp), F.col(id_col) == F.col("__node"), "left"
    )
    kept = F.col("__node").isNull() | (F.col("__node") == F.col("__comp"))
    return joined.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("__node").alias("n_dup_members"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
    )


def oracle_dedup_retention_sql(
    pairs_sql: str,
    docs_sql: str = "SELECT doc_id, source FROM documents",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB oracle for :func:`dedup_retention` over the same pair
    list. Integer sums CAST to BIGINT (DuckDB HUGEINT trap)."""
    components = oracle_connected_components_sql(pairs_sql)
    return f"""
    WITH
    __cc AS ({components}),
    __d AS ({docs_sql})
    SELECT {source_col},
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(__cc.node) AS BIGINT) AS n_dup_members,
      CAST(sum(CASE WHEN __cc.node IS NULL OR __cc.node = __cc.component
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM __d LEFT JOIN __cc ON __d.{id_col} = __cc.node
    GROUP BY {source_col}
    """


def substring_dup_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-document repeated-substring detection: for every document,
    the fraction of its distinct character ``k``-grams that also occur
    in at least one OTHER document — the distributed approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22: exact repeated spans via
    a corpus suffix array). A suffix array is inherently single-machine;
    the shuffle-friendly reformulation fingerprints every k-char window
    and counts cross-document gram frequency instead.

    Reference parity: the reference has no substring-level pass (its
    dedup surface is task-level); this extends the corpus tier per the
    training-data mandate.

    Output: (doc_id, n_grams, n_dup_grams, dup_ratio, is_dup_heavy) for
    every doc with normalized length ≥ k. ``is_dup_heavy`` compares the
    ROUNDED ratio against ``threshold`` so both engines flag from
    byte-identical inputs.

    100 TB shape: grams are hashed to 64-bit (xxhash64) immediately
    after the per-doc distinct, so the three shuffles (per-doc distinct,
    gram-frequency window, per-doc rollup) move (int64, int64) rows —
    never gram strings. Cross-doc frequency is a count-over-window on
    the gram hash (ONE shuffle) rather than groupBy + re-join (two).
    A 64-bit collision merges two gram classes (P ≈ n²/2⁶⁵ — negligible
    against a byte-hash check at test scale and irrelevant at corpus
    scale where the answer is statistical)."""
    norm = norm_text(text_col, "spark")
    grams = (
        f"array_distinct(transform(sequence(1, length(__n) - {k} + 1), "
        f"i -> substring(__n, i, {k})))"
    )
    g = (
        spread(docs, id_col)
        .select(F.col(id_col), F.expr(norm).alias("__n"))
        .filter(F.length("__n") >= k)
        .select(F.col(id_col), F.explode(F.expr(grams)).alias("__g"))
        .select(F.col(id_col), F.xxhash64("__g").alias("__h"))
    )
    w = Window.partitionBy("__h")
    per = g.withColumn("__nd", F.count(F.lit(1)).over(w))
    ratio = F.round(
        F.col("n_dup_grams") / F.col("n_grams").cast("double"), 6
    )
    return (
        per.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__nd") >= 2).cast("long")).alias("n_dup_grams"),
        )
        .withColumn("dup_ratio", ratio)
        .withColumn(
            "is_dup_heavy",
            (F.col("dup_ratio") >= F.lit(threshold)).cast("int"),
        )
    )


def oracle_substring_dup_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for :func:`substring_dup_spans`. Grams stay as raw
    strings here (no hashing) — counts agree with the hashed Spark plan
    barring a 64-bit collision. Counts CAST to BIGINT (HUGEINT trap)."""
    return f"""
    WITH src AS ({source_sql}),
    n AS (SELECT {id_col}, {norm_text(text_col, "duck")} AS __n FROM src),
    p AS (
      SELECT {id_col}, __n,
        unnest(generate_series(1, length(__n) - {k} + 1)) AS i
      FROM n WHERE length(__n) >= {k}
    ),
    g AS (
      SELECT DISTINCT {id_col}, substr(__n, CAST(i AS INT), {k}) AS gram
      FROM p
    ),
    c AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram),
    d AS (
      SELECT g.{id_col} AS {id_col},
        CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_grams
      FROM g JOIN c USING (gram)
      GROUP BY g.{id_col}
    )
    SELECT {id_col}, n_grams, n_dup_grams,
      round(n_dup_grams / CAST(n_grams AS DOUBLE), 6) AS dup_ratio,
      CAST(round(n_dup_grams / CAST(n_grams AS DOUBLE), 6) >= {threshold}
           AS INT) AS is_dup_heavy
    FROM d
    """


# --------------------------------------------------------- recall probe

def exact_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    _hashes: DataFrame | None = None,
) -> DataFrame:
    """EXACT shingle-Jaccard pairs ≥ threshold via a postings self-join
    — the exhaustive ground truth the banded LSH tiers approximate.

    Plan: explode each doc's distinct shingle hashes into postings,
    self-join postings on the hash (one shuffle keyed by hash — work is
    proportional to co-occurrence, NOT |docs|²), count shared hashes per
    (doc_a, doc_b), then jaccard = shared / (|A| + |B| - shared) by
    joining the per-doc set sizes. ``max_df`` (optional) drops hashes
    appearing in more than that many documents before pairing — the
    document-frequency analog of :func:`_band_pairs`' hot-bucket cap: a
    boilerplate shingle shared by m docs alone emits m·(m−1)/2 join
    rows. Default None keeps exact semantics (and the DuckDB oracle);
    at corpus scale this runs on a sample, which is exactly how the
    recall probe uses it (mirroring the exact tier of the ANN probe,
    similarity.py recall_probe).

    ``_hashes`` is the internal shared-subtree hook (the wave-6
    ``_assigned`` pattern): a caller that already pinned
    ``_shingle_hashes(docs, id_col, text_col, k)`` passes it so the
    exact tier reuses ONE cached tokenization instead of building an
    identical second scan→normalize→md5 pipeline over the same corpus
    (dedup_recall_probe computes that exact frame for the LSH tiers
    anyway). Default None keeps this function standalone-byte-identical.
    """
    hs = pin(_shingle_hashes(docs, id_col, text_col, k)) if _hashes is None \
        else _hashes
    post = hs.select(F.col(id_col), F.explode("hashes").alias("__h"))
    # df=1 hashes cannot contribute a pair — pruning them is free
    # exactness-preserving selectivity (most shingles are unique, so
    # this drops the bulk of the postings before the self-join). The
    # count-over-window shuffles on __h, the same partitioning the
    # join needs anyway.
    w = Window.partitionBy("__h")
    post = (
        post.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(
            (F.col("__df") >= 2)
            & ((F.col("__df") <= max_df) if max_df is not None else F.lit(True))
        )
        .drop("__df")
    )
    a, b = post.alias("a"), post.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sizes = hs.select(F.col(id_col), F.size("hashes").alias("__n"))
    jac = F.expr("cast(__shared as double) / cast(__na + __nb - __shared as double)")
    return (
        shared.join(
            sizes.select(
                F.col(id_col).alias("doc_a"), F.col("__n").alias("__na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("doc_b"), F.col("__n").alias("__nb")
            ),
            "doc_b",
        )
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round("__jac", 6).alias("jaccard"))
    )


def dedup_recall_probe(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    sample_mod: int | None = None,
) -> DataFrame:
    """Measured quality pin for the MinHash-LSH dedup tier (the dedup
    analog of similarity.py's ANN recall_probe): one summary row with

      n_exact      — exhaustive pairs with exact Jaccard ≥ threshold
                     (:func:`exact_jaccard_pairs`)
      n_candidates — distinct band-collision candidate pairs the LSH
                     banding surfaces (pre-verification)
      n_verified   — candidates surviving exact-Jaccard verification
                     (:func:`dedup_minhash`'s output — a subset of the
                     exact set by construction, same hashes + formula)
      recall       — n_verified / n_exact (banding miss rate)
      candidate_precision — n_verified / n_candidates (band selectivity)

    Every quantity is deterministic (fixed permutation constants), so
    the probe has a bit-exact DuckDB oracle. At 100 TB this runs on a
    sampled slice — ground truth is the probe's cost, by design:
    ``sample_mod=m`` keeps only docs with ``id % m == 0`` (systematic,
    engine-reproducible — a Bernoulli ``df.sample`` would depend on
    partitioning and break the oracle), and all five quantities are
    then computed on the slice, i.e. recall over within-slice pairs —
    an unbiased estimate when ids are unrelated to content. Default
    None keeps the exhaustive semantics the driver certifies.
    """
    if sample_mod is not None:
        docs = docs.filter(F.col(id_col) % sample_mod == 0)
    hs = pin(_shingle_hashes(docs, id_col, text_col, k))
    # the exact tier shares the SAME pinned tokenization (guide §2.4:
    # share common subtrees): without _hashes it would pin an identical
    # second scan→normalize→shingle→md5 pipeline over the same corpus.
    exact = exact_jaccard_pairs(
        docs, id_col=id_col, text_col=text_col, k=k, threshold=threshold,
        _hashes=hs,
    )
    consts = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in MINHASH_PERMS
    )
    sig_expr = (
        f"aggregate(hashes, array_repeat({P_MOD}L, {N_PERMS}), "
        f"(acc, h) -> zip_with(acc, array({consts}), "
        f"(m, c) -> least(m, (c.a * h + c.b) % {P_MOD}L)))"
    )
    sigs = hs.select(F.col(id_col), F.expr(sig_expr).alias("__sig"))
    band_cols = []
    for bi in range(N_BANDS):
        members = ", ".join(
            f"cast(__sig[{bi * ROWS_PER_BAND + r}] as string)"
            for r in range(ROWS_PER_BAND)
        )
        band_cols.append(f"__b{bi}")
        sigs = sigs.withColumn(
            f"__b{bi}", F.expr(f"md5(concat_ws('-', {members}))")
        )
    cands = pin(
        _band_pairs(sigs.select(id_col, *band_cols), id_col, band_cols)
    )
    # verify the candidate set directly (same join + formula as
    # dedup_minhash) instead of re-running the whole signature+banding
    # pass a second time — signatures are computed exactly once.
    x = hs.select(F.col(id_col).alias("doc_a"), F.col("hashes").alias("__ha"))
    y = hs.select(F.col(id_col).alias("doc_b"), F.col("hashes").alias("__hb"))
    jac = F.expr(
        "cast(size(array_intersect(__ha, __hb)) as double) / "
        "cast(size(array_union(__ha, __hb)) as double)"
    )
    verified = (
        cands.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("__jac", jac)
        .filter(F.col("__jac") >= F.lit(threshold))
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6)
        + F.lit(0.0),
    ).otherwise(F.lit(0.0))
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .select(
            "n_exact",
            "n_candidates",
            "n_verified",
            ratio("n_verified", "n_exact").alias("recall"),
            ratio("n_verified", "n_candidates").alias("candidate_precision"),
        )
    )


def oracle_dedup_recall_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`dedup_recall_probe`: reruns the full LSH
    algorithm (same shingles/permutations/banding as
    :func:`oracle_dedup_minhash_sql`) plus the exact postings join, and
    emits the same one-row summary."""
    gram = " || ' ' || ".join(f"__toks[i + {d}]" for d in range(k))
    sig_exprs = ",\n      ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {P_MOD})) AS __s{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    band_exprs = ",\n      ".join(
        "md5(concat_ws('-', "
        + ", ".join(
            f"cast(__s{bi * ROWS_PER_BAND + r} as varchar)"
            for r in range(ROWS_PER_BAND)
        )
        + f")) AS __b{bi}"
        for bi in range(N_BANDS)
    )
    band_match = " OR ".join(f"a.__b{bi} = b.__b{bi}" for bi in range(N_BANDS))
    return f"""
    WITH src AS ({source_sql}),
    tok AS (
      SELECT {id_col},
             string_split({norm_text(text_col, "duck")}, ' ') AS __toks
      FROM src
    ),
    sh AS (
      SELECT {id_col},
             list_transform(range(1, len(__toks) - {k - 1} + 1),
                            i -> {gram}) AS __sh
      FROM tok WHERE len(__toks) >= {k}
    ),
    hs AS (
      SELECT {id_col},
             list_distinct(list_transform(__sh,
               s -> cast('0x' || substr(md5(s), 1, 7) AS BIGINT))) AS hashes
      FROM sh
    ),
    post AS (SELECT {id_col}, unnest(hashes) AS h FROM hs),
    shared AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, count(*) AS s
      FROM post a JOIN post b
        ON a.h = b.h AND a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    ),
    sz AS (SELECT {id_col}, len(hashes) AS n FROM hs),
    exact AS (
      SELECT doc_a, doc_b
      FROM shared
      JOIN sz x ON shared.doc_a = x.{id_col}
      JOIN sz y ON shared.doc_b = y.{id_col}
      WHERE CAST(s AS DOUBLE) / CAST(x.n + y.n - s AS DOUBLE) >= {threshold}
    ),
    sig AS (
      SELECT {id_col}, hashes,
      {sig_exprs}
      FROM hs
    ),
    bands AS (
      SELECT {id_col},
      {band_exprs}
      FROM sig
    ),
    cands AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM bands a JOIN bands b
        ON a.{id_col} < b.{id_col} AND ({band_match})
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN hs x ON c.doc_a = x.{id_col}
      JOIN hs y ON c.doc_b = y.{id_col}
      WHERE CAST(len(list_intersect(x.hashes, y.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(x.hashes, y.hashes))) AS DOUBLE)
          >= {threshold}
    ),
    agg AS (
      SELECT (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM cands) AS n_candidates,
             (SELECT count(*) FROM ver) AS n_verified
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
      CAST(n_candidates AS BIGINT) AS n_candidates,
      CAST(n_verified AS BIGINT) AS n_verified,
      CASE WHEN n_exact > 0
        THEN round(CAST(n_verified AS DOUBLE) / n_exact, 6) + 0.0
        ELSE 0.0 END AS recall,
      CASE WHEN n_candidates > 0
        THEN round(CAST(n_verified AS DOUBLE) / n_candidates, 6) + 0.0
        ELSE 0.0 END AS candidate_precision
    FROM agg
    """


# ---------------------------------------------------- incremental index

def _local_fs_path(path: str) -> str | None:
    """The local filesystem path ``path`` names, or None when it has
    another URI scheme or glob characters (Hadoop expands those)."""
    if any(c in path for c in "*?[{"):
        return None
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*):", path)
    if m is None:
        return path
    return path[len("file:"):] if m.group(1).lower() == "file" else None


def snapshot_read(spark, path: str, base_path: str | None = None):
    """Read a parquet dataset as a SNAPSHOT. Two layouts:

    **Manifest tables** (anything written through
    :mod:`streamtasks_spark.core.state` — every index and sketch state
    table since r11): resolve the committed segment set through the
    atomic ``_MANIFEST.json`` pointer. Isolation is structural —
    segments are immutable and a concurrent commit only flips the
    pointer, so this read sees exactly one version, never a torn mix,
    and never an uncommitted (crash-orphaned) segment. ``base_path``
    is ignored: :func:`~streamtasks_spark.core.state.manifest_read`
    reads with the schema the manifest records and keeps the partition
    column of a directory-partitioned layout.

    **Legacy plain directories** (pre-manifest data, appended output
    logs): resolve the concrete file list up front and read those
    files explicitly. Appending to ``path`` fires Spark's
    refreshByPath cache invalidation, so any cached plan reading the
    plain path recomputes against a RE-LISTED directory — observing
    rows appended after the read was planned (a plan that then sees
    its own batch as history double-counts it). Explicit file lists
    pin the view;
    ``base_path`` preserves partition columns when the dataset is
    directory-partitioned.

    Returns None when the dataset doesn't exist yet. A missing local
    path (no scheme, or ``file:``, and no glob characters) returns
    before any Spark read: the failed resolution would log a ~50-line
    FileNotFoundException WARN on every twin's first batch."""
    if read_manifest(path) is not None:
        return manifest_read(spark, path)
    local = _local_fs_path(path)
    if local is not None and not os.path.exists(local):
        return None
    try:
        reader = spark.read
        if base_path:
            reader = reader.option("basePath", base_path)
        df = reader.parquet(path)
        files = df.inputFiles()
    except AnalysisException as e:
        # Only "dataset doesn't exist yet" maps to None: a missing
        # path, or an existing-but-empty directory (schema inference
        # has nothing to read). Anything else — corruption,
        # permissions, transient FS faults — must propagate, or
        # MinHashIndex.ingest / IvfIndex.query would silently treat an
        # unreadable index as empty history and emit wrong results.
        # getCondition is the Spark 4 name; getErrorClass is the
        # deprecated alias that warns on every call
        name = getattr(
            e, "getCondition", getattr(e, "getErrorClass", lambda: None)
        )() or ""
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in name
            or "UNABLE_TO_INFER_SCHEMA" in name
            or "Path does not exist" in msg
            or "Unable to infer schema" in msg
        ):
            return None
        raise
    if not files:
        return None
    reader = spark.read.schema(df.schema)
    if base_path:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*files)


def compact_table(
    spark,
    path: str,
    *,
    files: int = 8,
    partition_by: str | None = None,
    transform=None,
) -> bool:
    """Rewrite a parquet dataset coalesced into ``files`` files (per
    partition directory when ``partition_by`` is set). Cures the
    small-files accretion of append-based index tables.

    The rewrite commits through the versioned-manifest protocol
    (:func:`~streamtasks_spark.core.state.replace_write`): the
    compacted copy lands as a NEW segment, one atomic pointer flip
    makes it the live version, and the superseded segments are swept —
    a crash anywhere before the flip leaves the previous version fully
    live. The live manifest's batch fence carries over to the
    compacted version, so a streaming replay after compaction still
    finds its batch committed. A pre-manifest plain directory becomes
    a manifest table, its loose files swept by the flip.

    Compaction still requires EXCLUSIVE access — no concurrent writer,
    and no concurrent reader mid-query (the post-flip sweep deletes
    segment files a long-running plan may still hold). Run it from the
    single maintenance owner of the index (the same discipline ingest
    already requires). Returns False if the dataset doesn't exist."""
    cur = snapshot_read(
        spark, path, base_path=path if partition_by else None
    )
    if cur is None:
        return False
    if transform is not None:
        # owner-supplied fold applied during the rewrite — e.g.
        # BloomIndex re-distincts positions duplicated across appended
        # part files (append-mode parquet cannot dedup across files)
        cur = transform(cur)
    # the rows are the same, so the streaming batch they hold is too
    replace_write(
        cur.repartition(files, *([partition_by] if partition_by else [])),
        path, partition_by=partition_by,
        fence=(read_manifest(path) or {}).get("fence"),
    )
    return True


def _band_postings(hs: DataFrame, id_col: str) -> DataFrame:
    """(id, __band_idx, __band_key) postings for the standard signature
    (same permutation constants and banding as :func:`dedup_minhash`)."""
    consts = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in MINHASH_PERMS
    )
    sig_expr = (
        f"aggregate(hashes, array_repeat({P_MOD}L, {N_PERMS}), "
        f"(acc, h) -> zip_with(acc, array({consts}), "
        f"(m, c) -> least(m, (c.a * h + c.b) % {P_MOD}L)))"
    )
    sigs = hs.select(F.col(id_col), F.expr(sig_expr).alias("__sig"))
    band_keys = []
    for bi in range(N_BANDS):
        members = ", ".join(
            f"cast(__sig[{bi * ROWS_PER_BAND + r}] as string)"
            for r in range(ROWS_PER_BAND)
        )
        band_keys.append(f"md5(concat_ws('-', {members}))")
    arr = ", ".join(band_keys)
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({arr})")).alias("__band_idx", "__band_key"),
    )


class MinHashIndex(StagedIndex):
    """Incremental corpus-scale near-dedup: a persistent banded-LSH
    index on disk, so each new ingest batch is deduplicated against the
    ENTIRE historical corpus without recomputing it.

    This is the 100 TB ingestion shape the one-shot
    :func:`dedup_minhash` can't cover: a training-data pipeline
    receives the corpus in crawl increments, and re-sketching petabytes
    per increment is not an option. The index persists exactly the two
    derived artifacts the verify path needs — band postings
    (``bands/``: id, band_idx, band_key) and the distinct shingle-hash
    arrays (``hashes/``: id, hashes) — both tiny relative to the text.

    Per :meth:`ingest` batch B against history H:

      pairs(B) = verify( band_join(B, B) ∪ band_join(B, H) )

    so over any batch decomposition, ∪ pairs(Bᵢ) equals
    ``dedup_minhash(∪ Bᵢ)`` exactly (pairs canonicalized doc_a < doc_b;
    H–H pairs were emitted by earlier ingests). Pinned by
    tests/test_llmdata.py's batch-equivalence test. The equivalence
    holds for ``max_bucket=None`` only: with a cap set, each ingest
    applies it to CUMULATIVE bucket occupancy at ingest time, and
    pairs emitted while a bucket was still under the cap cannot be
    retracted once later batches push it over — incremental output is
    then a superset of the capped one-shot result (and a subset of
    the uncapped one).

    Scale shape: each ingest sketches only the new batch, and history
    is reached only through the index: one join keyed on (band_idx,
    band_key) of the batch's postings against the postings table (at
    warehouse scale, persist that table bucketed on the band key so
    the join is co-located with no history shuffle), then one lookup
    of the other end's hashes for the candidate pairs. ``max_bucket``
    is the same hot-bucket guard as :func:`_band_pairs`, applied to
    the combined bucket occupancy. Doc ids must be unique across
    ingests (enforce upstream); re-ingesting an id would pair it with
    itself.

    Commit protocol (:meth:`stage`): the
    :class:`~streamtasks_spark.core.state.Staging` ingest over
    ``hashes/`` then ``bands/``. The pair plan reads the batch's landed
    segments next to the history segments named before them, so it
    never sees the batch twice and needs no persisted working table,
    and no doc's hash row is ever held twice.
    """

    def __init__(
        self,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        threshold: float = 0.5,
        max_bucket: int | None = None,
    ) -> None:
        self.path = str(path)
        self.bands_path = f"{self.path}/bands"
        self.hashes_path = f"{self.path}/hashes"
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.threshold = threshold
        self.max_bucket = max_bucket

    def _candidates(self, new_posts: DataFrame, old_posts) -> DataFrame:
        """(__a, __b): distinct pairs sharing a band, __a in the batch.
        The postings side tags the batch's own rows ``__new``, so a
        (new, new) pair comes out once, with __a < __b."""
        idc = self.id_col
        posts = new_posts.withColumn("__new", F.lit(True))
        if old_posts is not None:
            posts = posts.unionByName(
                old_posts.withColumn("__new", F.lit(False))
            )
        new_side = new_posts
        if self.max_bucket is not None:
            w = Window.partitionBy("__band_idx", "__band_key")
            posts = (
                posts.withColumn("__bsz", F.count(F.lit(1)).over(w))
                .filter(F.col("__bsz") <= self.max_bucket)
                .drop("__bsz")
            )
            new_side = posts.filter("__new")
        a, b = new_side.alias("a"), posts.alias("b")
        return (
            a.join(
                b,
                (F.col("a.__band_idx") == F.col("b.__band_idx"))
                & (F.col("a.__band_key") == F.col("b.__band_key"))
                & F.when(
                    F.col("b.__new"), F.col(f"a.{idc}") < F.col(f"b.{idc}")
                ).otherwise(F.col(f"a.{idc}") != F.col(f"b.{idc}")),
            )
            .select(
                F.col(f"a.{idc}").alias("__a"), F.col(f"b.{idc}").alias("__b")
            )
            .distinct()
        )

    def stage(self, docs: DataFrame, fence: dict | None = None):
        """Write one batch's sketches and plan its pairs, committing
        nothing yet. Returns ``(pairs, commit)``, or None when the
        streaming ``fence`` (``{"query": id, "batch": n}``) is already
        committed. ``pairs`` is (doc_a, doc_b, jaccard), doc_a < doc_b,
        ready to feed :func:`connected_components`; ``commit()`` makes
        the batch part of history. ``docs`` is sketched at its own
        partitioning, so a micro-batch is not reshuffled on every
        trigger, and a one-partition batch adds one ``hashes/`` and one
        ``bands/`` file.

        ``pairs`` reads the batch's new segments and the history
        segments live before this call, nothing through a manifest, so
        it evaluates to the same rows before the commit, after it and
        after later ingests — until a :meth:`compact` sweeps the
        segments it reads."""
        # hashes commit first: a posting must always find its hash row
        st = Staging.open((self.hashes_path, self.bands_path), fence)
        if st is None:
            return None
        spark = docs.sparkSession
        idc = self.id_col
        old_hashes = snapshot_read(spark, self.hashes_path)
        old_posts = snapshot_read(spark, self.bands_path)
        new_hashes = st.land(
            _shingle_kernel(docs, idc, self.text_col, self.k), self.hashes_path
        )
        new_posts = st.land(_band_postings(new_hashes, idc), self.bands_path)
        # one lookup serves both ends: its two joins share one plan, so
        # Spark reads and broadcasts it once
        look = (
            new_hashes if old_hashes is None
            else new_hashes.unionByName(old_hashes)
        )
        x, y = look.alias("x"), look.alias("y")
        jac = F.expr(
            "cast(size(array_intersect(x.hashes, y.hashes)) as double) / "
            "cast(size(array_union(x.hashes, y.hashes)) as double)"
        )
        pairs = (
            self._candidates(new_posts, old_posts)
            .join(x, F.col("__a") == F.col(f"x.{idc}"))
            .join(y, F.col("__b") == F.col(f"y.{idc}"))
            .select("__a", "__b", jac.alias("__jac"))
            .filter(F.col("__jac") >= F.lit(self.threshold))
            .select(
                F.least("__a", "__b").alias("doc_a"),
                F.greatest("__a", "__b").alias("doc_b"),
                F.round("__jac", 6).alias("jaccard"),
            )
        )
        return pairs, st.commit

    def compact(self, spark, *, files_per_table: int = 8) -> None:
        """Rewrite both index tables into ``files_per_table`` files.

        Every :meth:`ingest` appends a batch's worth of segments, so a
        long-running index accretes thousands of small files and the
        band join's scan degrades into file-listing overhead — the
        standard small-files problem of any append-based table format.
        Compaction reads a snapshot, rewrites it coalesced into a new
        segment, and commits it with one atomic manifest flip (see
        :func:`compact_table`). EXCLUSIVE access required — no
        concurrent ingest and no reader mid-query: the post-flip sweep
        deletes superseded segment files a long-running plan may still
        hold, the unevaluated ``pairs`` of an earlier ingest included.

        At warehouse scale this is where the postings table would also
        be re-bucketed on the band key (sort/cluster within rewrite);
        locally a plain coalesced rewrite keeps the semantics
        byte-identical (pinned by the equivalence test). A torn commit
        is undone first, and each table keeps its batch fence, so a
        streaming replay after compaction is still skipped. The
        distinct fold is a no-op on an index written with fenced
        commits; it removes the value-identical rows a replayed ingest
        appended before them."""
        Staging.open((self.hashes_path, self.bands_path))
        for path in (self.bands_path, self.hashes_path):
            compact_table(
                spark, path, files=files_per_table,
                transform=lambda df: df.distinct(),
            )


class ParagraphIndex(StagedIndex):
    """Incremental corpus-scale paragraph dedup: ONE persistent table
    (``seen/``: para_hash) of every normalized-paragraph hash ever
    kept, so each crawl increment keeps only its first-occurrence
    paragraphs against the ENTIRE historical corpus without re-reading
    it. The 100 TB companion of the one-shot :func:`paragraph_dedup`
    exactly as :class:`MinHashIndex` is of :func:`dedup_minhash` —
    boilerplate (headers, footers, subscribe-blocks) recurs across
    crawl increments for YEARS, and a per-increment dedup that forgets
    history re-admits all of it.

    Per :meth:`ingest` batch B against history H: a paragraph of B
    survives iff its hash is the batch's keep-first winner (min
    (id, idx), exactly :func:`paragraph_dedup` within B) AND the hash
    is absent from H. Output shape = ``paragraph_dedup(B)``'s
    ``(id, n_paras, n_kept, text_kept)``. When batches arrive in
    nondecreasing id order (crawl increments do), ingesting them one
    by one reassembles byte-identically to the one-shot operator on
    the union — pinned by the batch-equivalence test.

    Crash safety: the batch's new hashes commit through the
    :class:`~streamtasks_spark.core.state.Staging` ingest over the one
    table ``seen/`` (one atomic pointer flip, object-store safe). A
    crash BEFORE the flip loses nothing (the batch just re-ingests); a
    streaming fence already in ``seen/`` skips the batch, and an
    unfenced replay AFTER the flip appends value-identical hash rows,
    which the anti-join is insensitive to and :meth:`compact`'s
    distinct fold removes. Scale shape: the history side is one
    left-anti join keyed on the hash (at warehouse scale, keep
    ``seen/`` bucketed on para_hash so it co-locates); only the new
    batch's paragraphs ever shuffle."""

    def __init__(
        self, path: str, *, id_col: str = "doc_id", text_col: str = "text"
    ) -> None:
        self.path = str(path)
        self.seen_path = f"{self.path}/seen"
        self.id_col = id_col
        self.text_col = text_col

    def stage(self, docs: DataFrame, fence: dict | None = None):
        """Land the batch's newly-seen hashes and plan its per-doc
        survivors from that segment, never history again, at ``docs``'
        own partitioning: ``(out, commit)``, or None when the streaming
        ``fence`` is already committed."""
        st = Staging.open((self.seen_path,), fence)
        if st is None:
            return None
        idc = self.id_col
        paras = _para_rows(docs, idc, self.text_col)
        batch_kept = _para_winners(paras, idc)
        old = snapshot_read(docs.sparkSession, self.seen_path)
        new = (
            batch_kept if old is None
            else batch_kept.join(
                old.withColumnRenamed("para_hash", "__h"), "__h", "left_anti"
            )
        )
        seen = st.land(
            new.select(F.col("__h").alias("para_hash")), self.seen_path
        )
        kept = batch_kept.join(
            seen.withColumnRenamed("para_hash", "__h"), "__h", "left_semi"
        )
        return _para_reassemble(paras, kept, idc), st.commit

    def compact(self, spark, *, files: int = 8) -> None:
        """Rewrite ``seen/`` coalesced (and distinct — curing the
        value-identical rows a crash-replayed ingest appends) with one
        atomic manifest flip. EXCLUSIVE access required, like every
        index compaction here."""
        compact_table(
            spark, self.seen_path, files=files,
            transform=lambda df: df.distinct(),
        )
