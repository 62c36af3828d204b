"""Cross-engine fuzz: the Spark-vs-DuckDB oracle certification run over
RANDOMIZED adversarial corpora, not just the fixed testdata.

tests/test_oracle.py certifies every declared query against its oracle
on `/root/testdata` — fixed corpora. This suite regenerates small
hostile corpora (empty docs, whitespace-only docs, exact duplicates,
shared sentences, tabs/newlines, accented latin, punctuation runs,
single-token docs) from seeded RNG, writes them as parquet tables, and
runs the SAME query callables and oracle SQL through the same
certifier (`streamtasks_spark.oracle.certify`: `compare` +
`audit_types`). A cross-engine margin (regex semantics, collation,
rounding) that the fixed corpora never exercise fails here.

Alphabet notes (deliberate exclusions, documented margins):
- no ``\\x0b``/``\\x0c``: Java ``\\s`` includes vertical tab, RE2's does
  not — the normalize step would legitimately diverge. Real corpora are
  cleaned of these before ingestion.
- accented latin (é à ü ß) is included — lower() agrees across engines.
- full-unicode case folding (İ, Σ), CJK, emoji, combining marks, and
  exotic whitespace are the UNICODE axis (``unicode_frac``): r07's
  campaign found Java's SpecialCasing lower (final sigma, İ→i+U+0307)
  diverging from DuckDB's simple utf8proc mapping on every text query;
  norm_text now pre-maps both triggers, and one committed fuzz_dirs
  corpus keeps the axis exercised.
"""

from __future__ import annotations

import os
import random
import sys

import pytest

from streamtasks_spark.oracle import (
    MISSING_TABLE,
    certify,
    compare,
    duck_conn,
)

# the default run excludes this sweep (pytest.ini): it is the slow
# tier — run with `-m slow`
pytestmark = pytest.mark.slow

# fuzz_sweep (imported lazily below) lives in scripts/
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)


def certify_all(spark, sf_dirs, names, ran=None) -> list[str]:
    """``certify`` every query in ``names`` over every dir, as
    ``<dir>/<query>: <problem>`` lines. With ``ran`` given, a query
    reading a table the dir lacks is skipped (single-table corpora run
    the whole surface) and ``ran`` collects the queries compared."""
    failures = []
    for sf_dir in sf_dirs:
        con = duck_conn(sf_dir)
        for name in names:
            problems = certify(spark, con, name, sf_dir)
            if ran is not None:
                if problems and problems[0].startswith(MISSING_TABLE):
                    continue
                ran.add(name)
            failures += [f"{os.path.basename(sf_dir)}/{name}: {p}" for p in problems]
        con.close()
    return failures


WORDS = [
    "the", "a", "and", "of", "to", "in", "is", "it", "for", "on",
    "data", "spark", "stream", "église", "über", "straße", "naïve",
    "x", "yz", "longtokenwithoutspaces" * 3, "1234", "3.14", "—",
]
PUNCT = list(".,;:!?()[]'\"")

# the unicode axis: Unicode SpecialCasing triggers (Σ final-sigma
# context, İ U+0130), CJK (no case), emoji (astral plane), cyrillic
# (1:1 case map), combining vs precomposed accents, and exotic
# whitespace INSIDE tokens (NBSP / ZWSP / ideographic space — none
# match \s in either engine, so they must ride through normalization
# untouched)
UNI_WORDS = [
    "ΣΤΟΠ", "ΤΕΛΟΣ", "Σ", "σς", "İstanbul", "DİYARBAKIR", "ııı",
    "歌詞テキスト", "漢字", "🦑🔥", "ПРАВДА", "русский",
    "éclair", "éclair", "ÅNGSTRÖM", "ångström", "ẞ", "ß",
    "nb sp", "zero​width", "ideo　space",
]


def make_corpus(seed: int, n: int = 60, doc_len: int = 1,
                unicode_frac: float = 0.0,
                para_frac: float = 0.0) -> list[tuple]:
    """``doc_len`` multiplies the token-count range of the prose kinds
    (the LENGTH volume axis — shingle-set size, substring-gram count,
    token-histogram mass per doc — orthogonal to the row-count axis
    ``n``). The degenerate kinds (empty/whitespace/punct/single-token)
    stay short by design: their point is the boundary, not the bulk.

    ``unicode_frac`` draws that fraction of prose tokens from
    UNI_WORDS (the UNICODE axis). ``para_frac`` (the r11 PARAGRAPH
    axis) promotes that fraction of the prose token separators to
    blank-line runs (``\\n\\n`` / ``\\n\\n\\n``), so documents carry real
    multi-paragraph structure — including leading/trailing/adjacent
    separator runs — for the paragraph-granularity operators. The
    extra RNG draws are gated behind ``if unicode_frac`` /
    ``if para_frac`` so the default keeps every previously-pinned
    seed's corpus byte-identical."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = rng.randrange(11)
        if kind == 0:
            text = ""  # empty
        elif kind == 10:
            # NULL text: a 100 TB crawl WILL have them; every doc
            # query must treat NULL like the engines' shared
            # NULL-propagation (not crash, not diverge from DuckDB)
            text = None
        elif kind == 1:
            text = " \t\n  " * rng.randrange(1, 4)  # whitespace-only
        elif kind == 2:
            text = rng.choice(WORDS)  # single token
        elif kind == 3 and rows:
            text = rows[rng.randrange(len(rows))][1]  # exact duplicate
        elif kind == 4:
            text = "".join(rng.choice(PUNCT) for _ in range(rng.randrange(1, 30)))
        else:
            k = rng.randrange(3, 40 * doc_len)
            toks = [
                rng.choice(UNI_WORDS)
                if unicode_frac and rng.random() < unicode_frac
                else rng.choice(WORDS)
                for _ in range(k)
            ]
            # random whitespace runs between tokens
            seps = [rng.choice([" ", "  ", "\t", "\n", " \t "]) for _ in toks]
            if para_frac:
                seps = [
                    rng.choice(["\n\n", "\n\n\n", "\n\n "])
                    if rng.random() < para_frac else s
                    for s in seps
                ]
            text = "".join(t + s for t, s in zip(toks, seps))
            if rng.random() < 0.3 and rows:
                # splice a shared sentence from an earlier doc (near-dup);
                # proportional to doc_len so long docs still form
                # detectable near-dup geometry, not a vanishing overlap
                prev = rows[rng.randrange(len(rows))][1]
                if prev is not None:
                    text += " " + prev[:80 * doc_len]
        rows.append(
            (i, text, rng.choice(["en", "fr", "es", "de"]),
             rng.choice(["web", "book", "code", "wiki"]),
             len(text) if text is not None else None)
        )
    return rows


@pytest.fixture(scope="module")
def fuzz_dirs(tmp_path_factory):
    """One parquet FILE per seed (single file like the real testdata, so
    both engines read the identical bytes), schema-identical to the
    testdata documents table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    dirs = []
    # seed 311 runs the UNICODE axis (half the prose tokens from
    # UNI_WORDS) — the committed leg of the r07 campaign that found
    # the Σ/İ SpecialCasing divergence in norm_text. Seed 9317 is the
    # r09 promotion: its corpus puts a NULL-text doc on BOTH sides of
    # the %3 new/ref split — the corpus on which bloom_dedup's oracle
    # diverged because DuckDB's concat() SKIPS NULL arguments (the
    # 'j:' phantom key) where Spark's NULL-propagates; the fix pins
    # the || form and this seed keeps it pinned
    # seed 4471 runs the r11 PARAGRAPH axis (a third of prose
    # separators become blank-line runs) — the corpus that gives
    # paragraph_dedup real multi-paragraph geometry: duplicate docs
    # (kind 3) whose every paragraph collapses, spliced near-dup
    # tails crossing paragraph boundaries, and trailing separator
    # runs (an empty trailing split field on both engines).
    for seed, ufrac, pfrac in ((7, 0.0, 0.0), (23, 0.0, 0.0),
                               (99, 0.0, 0.0), (311, 0.5, 0.0),
                               (9317, 0.0, 0.0), (4471, 0.25, 0.3)):
        d = tmp_path_factory.mktemp(f"fuzz{seed}")
        cols = list(zip(*make_corpus(seed, unicode_frac=ufrac,
                                     para_frac=pfrac)))
        table = pa.table(
            {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
        )
        pq.write_table(table, str(d / "documents.parquet"))
        dirs.append(str(d))
    return dirs


# document-only queries: every corpus-tier entry whose inputs are just
# the documents table (queries needing events/embeddings/lineitem or
# synthetic side-inputs are exercised by check_oracle on testdata)
DOC_QUERIES = [
    "text_stats", "lang_id", "doc_fingerprint", "vocab_topk",
    "token_histogram", "quality_filter", "doc_repetition",
    "dedup_minhash", "dedup_simhash", "ngram_jaccard",
    "substring_dedup", "quality_buckets", "source_stats",
    "dedup_components", "dedup_retention", "corpus_prepare",
    "decontaminate", "split_assign", "stratified_sample",
    "dedup_recall",
    # r11 second wave: paragraph-granularity dedup (the PARAGRAPH
    # axis seed 4471 gives it real multi-paragraph geometry)
    "paragraph_dedup",
    # media-tier queries that read only the documents table — the
    # NULL-text kind found tts/text_renderer voicing the literal
    # "None" and the image stubs crashing on a NULL payload (r07)
    "tts_synthesize", "text_renderer",
    "image_decode", "image_resize", "image_features",
    # r07 third new-op wave: chunking fan-out and the corpus-trained
    # unigram-LM score (vocabulary ties, OOV mass, zero-token edges)
    "doc_chunk", "unigram_lm",
    # r07 review finding: pack_sequences reads only documents but was
    # never in this set — its token-count path consumes norm_text, so
    # it must ride every text-normalization axis
    "pack_sequences",
    # r09 review: the r08/r09 new-op waves read only the documents
    # table but rode the fuzz axes only through one-off fuzz_sweep
    # campaigns — committed here so every future text-normalization /
    # NULL / unicode axis exercises them automatically (bloom_dedup's
    # concat-vs-|| NULL divergence, caught by exactly such a sweep,
    # is the class this prevents)
    "ngram_containment", "dsir_weights", "dedup_against",
    "split_leakage", "importance_resample", "contamination_report",
    "tfidf_topk", "bm25_topk", "bloom_dedup", "ngram_lm",
    "bm25_search", "heavy_hitters", "approx_distinct",
]


def make_vectors(seed: int, n: int = 80, dim: int = 64,
                 nonfinite: bool = False) -> list[tuple]:
    """``nonfinite`` (the r07 NONFINITE axis) replaces ~1/8 of the
    vectors with NaN/+Inf/-Inf carriers — the class where an
    unfinished norm gate let NaN poison the k-means centroid sums and
    the inlined codebook literal became an unresolvable `nanD` column,
    killing every trained-codebook query on the Spark side only.
    Extra draws are gated so pinned default seeds stay byte-identical;
    both engines must now DROP these vectors at the finite-positive
    norm gate."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = rng.randrange(8)
        if kind == 0:
            vec = [0.0] * dim  # zero vector: no direction, must be dropped
        elif kind == 1 and rows:
            prev = rows[rng.randrange(len(rows))][1]  # exact duplicate
            vec = list(prev) if prev is not None else prev
        elif kind == 2:
            vec = [0.0] * dim
            vec[rng.randrange(dim)] = rng.choice([1e-30, -1e-30, 1e30])
        elif kind == 3:
            # NULL embedding: both engines must drop it (Spark via
            # _with_norm, DuckDB via dot(v,v) > 0) and guard_dim must
            # pass it through, not raise (the r07 review finding)
            vec = None
        else:
            vec = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        if nonfinite and vec is not None and rng.random() < 0.125:
            vec = list(vec)
            # None = a NULL ELEMENT inside the list (legal parquet):
            # DuckDB's list_sum would SKIP it where Spark's fold
            # propagates NULL — the r07 review finding the oracle
            # gate's no-NULL-element condition pins
            vec[rng.randrange(dim)] = rng.choice(
                [float("nan"), float("inf"), float("-inf"), None]
            )
        rows.append((i, vec, rng.randrange(4)))
    return rows


@pytest.fixture(scope="module")
def fuzz_vec_dirs(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    dirs = []
    # seed 424 runs the NONFINITE axis (NaN/Inf carriers) — the
    # committed leg of the r07 probe that found the codebook `nanD`
    # crash; the finite-positive norm gate must drop them identically.
    # seed 9501 is the r09 promotion: its norm-dropped low ids leave
    # the PQ seed set SPARSE, the corpus that crashed pq_topk's
    # positional LUT indexing before the dense relabel fix — it stays
    # here so seed-id-labeled codebooks never meet positional indexing
    # again.
    # seed 31415 is the r11 promotion: a cluster whose min/boundary
    # cosine rounds to ZERO from below — DuckDB round() kept IEEE
    # -0.0 where Spark's BigDecimal round gives +0.0, a bit-only hash
    # divergence in cluster_profile/cluster_prune/cluster_prune_policy
    # before the '+ 0.0' oracle normalization; it stays here so the
    # signed-zero class never reopens on the cluster tier
    for seed, nonf in ((5, False), (41, False), (424, True),
                       (9501, False), (31415, False)):
        d = tmp_path_factory.mktemp(f"fuzzvec{seed}")
        cols = list(zip(*make_vectors(seed, nonfinite=nonf)))
        table = pa.table(
            {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
        )
        pq.write_table(table, str(d / "embeddings.parquet"))
        dirs.append(str(d))
    return dirs


VEC_QUERIES = [
    "ann_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_recall",
    "embedding_near_dup", "embedding_dup_classes", "ann_ivf_trained",
    # the quantized tiers (r08 sq / ivf_sq, r09 pq) — pq's sparse-seed
    # LUT bug (seed 9501 above) is exactly the class this committed
    # rotation exists to hold closed
    "ann_sq_topk", "ann_ivf_sq_topk", "ann_pq_topk",
    # r09 sixth/seventh waves: ivf_pq composes the two guarded tiers;
    # semantic_decontaminate and cluster_profile ride the same
    # zero-norm/NULL/duplicate axes
    "ann_ivf_pq_topk", "semantic_decontaminate", "cluster_profile",
    # r11 promotion (seed 31415): the prune pair share cluster_profile's
    # signed-zero boundary-cosine class
    "cluster_prune", "cluster_prune_policy",
]


def test_embedding_tier_matches_oracle_on_adversarial_vectors(
    spark, fuzz_vec_dirs
):
    """Zero vectors (ANSI DIVIDE_BY_ZERO without the zero-norm guard),
    exact duplicates (cosine exactly 1.0, rank ties), and near-zero /
    huge single components through the whole ANN tier on both engines."""
    failures = certify_all(spark, fuzz_vec_dirs, VEC_QUERIES)
    assert not failures, "\n".join(failures[:40])


def test_document_tier_matches_oracle_on_adversarial_corpora(spark, fuzz_dirs):
    failures = certify_all(spark, fuzz_dirs, DOC_QUERIES)
    assert not failures, "\n".join(failures[:40])


def make_events(seed: int, n: int = 400, rich_props: bool = False) -> list[tuple]:
    """Adversarial events: duplicate (user, ts) pairs, cross-type ts
    collisions (a control and a data row in the same instant), hot
    users, single-event users, zero/negative/boundary values (2-decimal
    like the real table), props with missing keys and NULLs.

    Deliberate exclusion: malformed-JSON props — Spark's
    get_json_object returns NULL where DuckDB's json_extract raises, so
    the oracle pair's contract is 'valid JSON or NULL'.

    ``rich_props`` (the r07 RICH-PROPS axis) replaces half the props
    with valid-JSON-but-non-integer ``k`` shapes (float, quoted string,
    bool, JSON null, array, nested object, unicode) — the class where
    a bare ANSI cast killed the Spark query while the DuckDB oracle
    coerced 3.5 → 3. Extra draws are gated behind ``if rich_props`` so
    default corpora stay byte-identical for every pinned seed."""
    from datetime import datetime, timedelta

    rng = random.Random(seed)
    t0 = datetime(2024, 3, 1)
    types = ["click", "view", "purchase", "error", "signup"]
    rows = []
    for i in range(n):
        uid = rng.choice([1, 1, 1, 1, 2, 3, 4, 5, 6, 7])  # user 1 is hot
        # coarse ts -> many exact collisions within and across users
        ts = t0 + timedelta(seconds=rng.randrange(0, 600) * 30)
        typ = rng.choice(types)
        value = rng.choice(
            [0.0, 0.01, -5.25, 49.5, 50.0, 499.99, round(rng.uniform(0, 500), 2)]
        )
        props = rng.choice(
            ['{"k": %d}' % rng.randrange(0, 100), "{}", '{"x": 1}', None]
        )
        if rich_props and rng.random() < 0.5:
            props = rng.choice([
                '{"k": 3.5}', '{"k": -0.25}', '{"k": 1e3}',
                '{"k": "12"}', '{"k": "x"}', '{"k": true}',
                '{"k": null}', '{"k": [1, 2]}', '{"k": {"a": 1}}',
                '{"k": "h\u00e9llo"}', '{"k": %d}' % rng.randrange(0, 100),
                '{"k": -%d}' % rng.randrange(1, 100),
                # r07 review shapes: a 20-digit VALID JSON integer (an
                # unbounded digit gate would pass it to the ANSI cast
                # -> job death) and a digits-plus-trailing-newline
                # string (Java $ matches before it, RE2 $ does not --
                # the \z anchor keeps the engines agreeing)
                '{"k": 99999999999999999999}', '{"k": "12\\n"}',
            ])
        rows.append((i, ts, uid, typ, value, props))
    return rows


@pytest.fixture(scope="module")
def fuzz_event_dirs(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    dirs = []
    # 523 is load-bearing: it generates two same-type control events at
    # identical (user, ts) — the tie geometry that exposed the r05
    # sr_latch order-indeterminacy (fixed by seq_col in the query +
    # event_id ordering in the oracle); 13/77 never produce it.
    # Seed 41 runs the RICH-PROPS axis (half the props valid JSON with
    # non-integer k) — the r07 leg that pins the integer-gated JSON
    # cast in events_json_extract (bare ANSI cast died on {"k": 3.5})
    for seed, rich in ((13, False), (77, False), (523, False), (41, True)):
        d = tmp_path_factory.mktemp(f"fuzzev{seed}")
        cols = list(zip(*make_events(seed, rich_props=rich)))
        table = pa.table(
            {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
        )
        pq.write_table(table, str(d / "events.parquet"))
        dirs.append(str(d))
    return dirs


def test_event_tier_matches_oracle_on_adversarial_events(
    spark, fuzz_event_dirs
):
    """Every query derivable from the events table alone (temporal
    operators, chunk-stream media ops, event analytics, function tier)
    against its oracle on collision-heavy corpora. Queries needing other
    tables fail the read and are skipped — the test asserts the
    events-only population is large enough that a silent wiring change
    can't hollow it out."""
    import __spark_entry__ as entrymod

    ran = set()
    failures = certify_all(spark, fuzz_event_dirs, entrymod.queries(), ran)
    assert len(ran) >= 30, f"only {len(ran)} events-only queries ran: {sorted(ran)}"
    assert not failures, "\n".join(failures[:40])


# --------------------------------------------------------------- TPC-H tier

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
)


def mutate_tpch(
    seed: int, frac: float, base: str = "/root/testdata/sf0.001"
) -> dict[str, list[dict]]:
    """Adversarial relational tables by MUTATION RESAMPLING of the real
    sf0.001 tables: resample rows with replacement (duplicate keys →
    identical join fanout both engines), orphan a fraction of foreign
    keys (customers without orders, lineitems whose order vanished —
    outer/anti/semi join null paths), concentrate a hot order key, snap
    dates to year boundaries (the filters' cutoff class) and
    quantities/discounts to the queries' threshold bands. Engine
    agreement needs no spec validity — both engines see identical
    parquet bytes; what fuzz hunts is tie-ordering, NULL-handling and
    ANSI-mode divergence the fixed testdata never exercises."""
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    out: dict[str, list[dict]] = {}
    for t in TPCH_TABLES:
        rows = pq.read_table(f"{base}/{t}.parquet").to_pylist()
        if t in ("region", "nation"):
            out[t] = rows  # tiny fixed dims: keep intact
            continue
        n = max(3, int(len(rows) * frac))
        rows = [dict(rng.choice(rows)) for _ in range(n)]
        out[t] = rows

    from datetime import datetime

    year_starts = [datetime(y, 1, 1) for y in range(1995, 2002)]
    hot_order = rng.choice(out["orders"])["o_orderkey"]
    order_keys = [r["o_orderkey"] for r in out["orders"]]
    for r in out["customer"]:
        if rng.random() < 0.15:
            r["c_acctbal"] = rng.choice([0.0, -999.99, 0.01])
    for r in out["orders"]:
        if rng.random() < 0.2:
            r["o_orderdate"] = rng.choice(year_starts)
        if rng.random() < 0.1:
            r["o_custkey"] = 99_999_999  # orphan: no such customer
    for r in out["lineitem"]:
        if rng.random() < 0.15:
            r["l_shipdate"] = rng.choice(year_starts)
        if rng.random() < 0.15:
            r["l_discount"] = rng.choice([0.04, 0.05, 0.06, 0.07, 0.08])
        if rng.random() < 0.15:
            r["l_quantity"] = float(rng.choice([1, 24, 25, 49, 50]))
        roll = rng.random()
        if roll < 0.05:
            r["l_orderkey"] = hot_order  # hot key: heavy fanout
        elif roll < 0.1:
            r["l_orderkey"] = rng.choice(order_keys)  # re-wire
        elif roll < 0.14:
            r["l_orderkey"] = 88_888_888  # orphan lineitem
    return out


@pytest.fixture(scope="module")
def fuzz_tpch_dirs(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = "/root/testdata/sf0.001"
    dirs = []
    # dense resample + sparse resample (empty groups, empty scalar
    # subqueries, aggregates over no rows) + the r05 fuzz_sweep seed
    # whose resample put a q2 unit-cost mean within an ulp of a
    # round(.., 4) boundary (fixed by integer micro-unit accumulation)
    for seed, frac in ((13, 0.9), (77, 0.12), (3527, 0.85)):
        d = tmp_path_factory.mktemp(f"fuzztpch{seed}")
        tables = mutate_tpch(seed, frac)
        for t in TPCH_TABLES:
            schema = pq.read_schema(f"{base}/{t}.parquet")
            pq.write_table(
                pa.Table.from_pylist(tables[t], schema=schema),
                str(d / f"{t}.parquet"),
            )
        dirs.append(str(d))
    return dirs


def test_relational_tier_matches_oracle_on_mutated_tpch(
    spark, fuzz_tpch_dirs
):
    """Every query derivable from the 7 relational tables alone (the
    TPC-H shapes + join-discipline queries) against its oracle on
    mutation-resampled tables. Queries needing events/documents/
    embeddings fail the read and are skipped; the test asserts the
    relational population stays large enough that a wiring change
    can't hollow it out."""
    import __spark_entry__ as entrymod

    ran = set()
    failures = certify_all(spark, fuzz_tpch_dirs, entrymod.queries(), ran)
    assert len(ran) >= 25, f"only {len(ran)} relational queries ran: {sorted(ran)}"
    assert not failures, "\n".join(failures[:40])


@pytest.fixture(scope="module")
def tie_heavy_dir(tmp_path_factory):
    """A 997-doc corpus built from 40 distinct texts: quality scores
    collapse to 40 tied groups, so interior percentile positions
    interpolate between ties — the geometry where Spark's
    lower + d*(hi-lo) is float-exact but DuckDB's (1-d)*lo + d*hi is
    not, flipping boundary-valued docs across quality_buckets buckets
    until the 6 dp boundary rounding (r05). Seed 19 for the texts is
    load-bearing: verified during r05 that the PRE-fix oracle produces
    2 bucket-population mismatches on this exact corpus while the
    fixed one matches — most seeds round back to x and pin nothing."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [
        "the", "fox", "data", "pipeline", "runs", "with", "care", "a",
        "of", "is", "river", "executor", "shuffle", "bank", "lazy",
        "dog", "quick", "brown", "near", "over",
    ]
    rng = random.Random(19)
    base = [
        " ".join(rng.choice(words) for _ in range(rng.randrange(3, 30)))
        for _ in range(40)
    ]
    rows = [
        (i, base[i % 40], "en", "web", len(base[i % 40]))
        for i in range(997)
    ]
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    d = tmp_path_factory.mktemp("ties")
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({f.name: list(c) for f, c in zip(schema, cols)},
                 schema=schema),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_percentile_paths_survive_massive_ties(spark, tie_heavy_dir):
    """quality_buckets (and the other score-threshold doc queries) must
    match their oracles bit-exactly when the score distribution is
    almost entirely ties — the r05 regression geometry."""
    failures = certify_all(
        spark, [tie_heavy_dir], ("quality_buckets", "quality_filter", "text_stats")
    )
    assert not failures, "\n".join(failures)


# ---------------------------------------------- per-round seed rotation

def _round_number() -> int:
    """Current build round, derived from the driver artifacts: rounds
    1..N-1 each left a CORRECTNESS_r*.json, so the count+1 is the round
    in progress. Keying the rotation seeds on it makes every round hunt
    FRESH geometry automatically — the r04/r05 divergences (regexp/ANSI,
    sr_latch ties, q2 mean drift) were all found by fresh seeds, then
    pinned as fixtures."""
    import glob

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return len(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))) + 1


# Divergence-prone representatives per tier — the classes fresh seeds
# actually broke in past rounds (tie ordering, percentile interpolation,
# mean rounding, threshold membership, LSH bucket geometry). The full
# surface is swept by scripts/fuzz_sweep.py out-of-band; this committed
# rotation keeps the highest-yield queries inside the CI budget.
ROTATION_QUERIES = {
    "docs": ["quality_buckets", "source_stats", "dedup_minhash"],
    "events": ["sr_latch", "synchronizer", "events_session_windows",
               "events_hourly_stats"],
    "vectors": ["embedding_near_dup", "ann_topk"],
    "tpch": ["q1_pricing_summary", "q2_min_cost_supplier",
             "q11_important_stock", "q15_top_supplier"],
}


def _rotation_seeds(tier: str) -> list[int]:
    tiers = sorted(ROTATION_QUERIES)
    base = 90_000 + 1_000 * _round_number() + 100 * tiers.index(tier)
    return [base + k for k in range(5)]


@pytest.mark.parametrize("tier", sorted(ROTATION_QUERIES))
def test_fresh_seed_rotation(spark, tier):
    """5 never-before-run seeds per tier per round, over the queries
    whose divergence classes fresh seeds have historically hit. A
    failure here is a REAL cross-engine divergence: fix it, then pin
    the seed as a permanent fixture (the 523/3527/19 pattern above)."""
    import shutil

    import fuzz_sweep  # scripts/ is on sys.path; imported lazily to
    # avoid a circular import (fuzz_sweep imports this module)

    failures = []
    for seed in _rotation_seeds(tier):
        sf_dir = fuzz_sweep.make_dir(tier, seed)
        try:
            failures += certify_all(spark, [sf_dir], ROTATION_QUERIES[tier])
        finally:
            # make_dir uses tempfile.mkdtemp — without cleanup every
            # run accretes 20 parquet dirs in /tmp
            shutil.rmtree(sf_dir, ignore_errors=True)
    assert not failures, "\n".join(failures[:40])


def test_empty_inputs_agree_or_fail_loudly(spark, tmp_path):
    """The EMPTY-INPUT axis (r07): every query run over zero-row
    documents/events/embeddings tables must either match its oracle
    (usually both empty) or fail LOUDLY with the documented
    ValueError (train_centroids has nothing to seed a codebook with).
    First run found three real defects: events_rollup silently
    diverged (DuckDB emits the SQL-standard grand-total row over empty
    input, Spark emits none — oracle now pins engine behavior),
    ann_recall died on ANSI DIVIDE_BY_ZERO where the oracle returned
    NULL, and an empty container was unreadable (no parquet data files
    → UNABLE_TO_INFER_SCHEMA; output_container now writes a header
    sidecar). A 100 TB pipeline hits empty partitions routinely."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    from fuzz_sweep import (
        DOC_SCHEMA,
        EV_SCHEMA,
        TPCH_TABLES,
        VEC_SCHEMA,
    )

    import __spark_entry__ as entrymod

    d = str(tmp_path / "empty")
    os.makedirs(d)
    for name, schema in (("documents", DOC_SCHEMA), ("events", EV_SCHEMA),
                         ("embeddings", VEC_SCHEMA)):
        pq.write_table(pa.table({f.name: [] for f in schema}, schema=schema),
                       f"{d}/{name}.parquet")
    # empty TPC-H tables too: all 22 query shapes (global aggregates,
    # scalar subqueries, anti-joins) must agree with their oracles on
    # zero-row facts — verified 119/119 comparable on first run
    for t in TPCH_TABLES:
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(pa.table({f.name: [] for f in schema}, schema=schema),
                       f"{d}/{t}.parquet")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_conn(d)
    # the ONLY queries allowed to raise, and only with the documented
    # loud codebook error — the train_centroids consumers, whose
    # contract is fail-loud on an unseedable codebook (cluster_profile
    # joined in r09, cluster_prune + cluster_prune_policy in r10; the PQ tiers instead return
    # empty on an EMPTY corpus and stay loud only for
    # non-empty-but-unseedable)
    LOUD_OK = {"ann_ivf_trained", "semantic_dedup", "text_semantic_dedup",
               "cluster_profile", "cluster_prune", "cluster_prune_policy",
               # r11: the drift probe trains both codebooks on its
               # first batch — an empty corpus is the same documented
               # loud seeding failure as the other trained queries
               "ann_index_drift"}
    problems = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, d).toPandas()
        except Exception as e:  # noqa: BLE001
            msg = f"{type(e).__name__}: {e}"
            # no skip branch: EVERY declared table exists (empty) in
            # this dir, so a path/KeyError here is a real regression,
            # not a benign missing-tier artifact (r07 review finding —
            # a blanket skip would silently exempt queries from the
            # sweep while the test claims full coverage)
            if name in LOUD_OK and "seed the codebook" in msg:
                continue  # the documented loud failure
            problems.append(f"{name}: unexpected error {msg[:160]}")
            continue
        if name not in oracles:
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: oracle error {type(e).__name__}: {e}")
            continue
        problems.extend(f"{name}: {p}" for p in compare(name, sdf, odf))
    assert not problems, "\n".join(problems[:20])
