"""Versioned-manifest commit protocol — unit tests plus crash
injection over every persistent-state owner.

The protocol (``streamtasks_spark/core/state.py``) replaces
directory-rename swaps: data lands in immutable segment directories,
and the ONLY commit point is one atomic single-file replacement of
``_MANIFEST.json`` (``_flip``). These tests inject a crash exactly at
that point — the one instant the old protocol could not survive on an
object store — and assert, for the core API and for every index class
and sketch-state twin, that a reader still resolves version N−1
intact, that the crash debris is invisible and swept, and that a clean
retry converges to the one-shot result bit-exactly.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from streamtasks_spark.core import state
from streamtasks_spark.llmdata.dedup import snapshot_read
from streamtasks_spark.session import read_parquet

SF_DIR = "/root/testdata/sf0.001"


class _FlipCrash(RuntimeError):
    pass


class _crash_at_flip:
    """Context manager: the Nth _flip call raises (counting from 1),
    simulating a kill between the data write and the pointer flip."""

    def __init__(self, monkeypatch, at: int = 1):
        self.monkeypatch = monkeypatch
        self.at = at
        self.calls = 0

    def __enter__(self):
        orig = state._flip

        def flip(tmp, dst):
            self.calls += 1
            if self.calls == self.at:
                raise _FlipCrash(f"injected crash at flip #{self.at}")
            orig(tmp, dst)

        self.monkeypatch.setattr(state, "_flip", flip)
        return self

    def __exit__(self, *exc):
        self.monkeypatch.undo()
        return False


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _job_ids(spark, fn):
    """(fn(), ids of the Spark jobs it started): the status tracker's
    job ids for a group set around the call, read after the listener
    bus has drained."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    out, jobs = _job_ids(spark, fn)
    return out, len(jobs)


def _work_of(spark, fn):
    """(jobs, tasks) that ``fn()`` started. A stage the tracker no
    longer holds (it keeps the newest ones) counts no tasks."""
    st = spark.sparkContext.statusTracker()
    _, jobs = _job_ids(spark, fn)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    infos = [st.getStageInfo(s) for s in stages]
    return len(jobs), sum(i.numCompletedTasks for i in infos if i)


def _segment_union(spark, p):
    """The per-segment read, each with its own schema inference."""
    segs = [os.path.join(p, n) for n in state.read_manifest(p)["segments"]]
    parts = [spark.read.option("basePath", s).parquet(s) for s in segs]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


# ------------------------------------------------------------- core API


def test_replace_and_append_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    state.replace_write(
        spark.createDataFrame([(1, "a")], "id int, v string"), p, n_files=1
    )
    m1 = state.read_manifest(p)
    assert m1["version"] == 1 and len(m1["segments"]) == 1
    state.append_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), p
    )
    assert _canon(snapshot_read(spark, p)) == [(1, "a"), (2, "b")]
    # replace supersedes: one live segment, old ones swept
    state.replace_write(
        spark.createDataFrame([(3, "c")], "id int, v string"), p
    )
    m3 = state.read_manifest(p)
    assert m3["version"] == 3 and len(m3["segments"]) == 1
    segs = [e for e in os.listdir(p) if e.startswith("seg_")]
    assert sorted(segs) == sorted(m3["segments"])
    assert _canon(snapshot_read(spark, p)) == [(3, "c")]


def test_partitioned_segments_keep_column_and_prune(spark, tmp_path):
    p = str(tmp_path / "pt")
    # written as bigint; partition discovery reads small values as int
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(64)], "id int, __cell bigint"
    )
    for _ in range(3):
        state.append_write(df, p, partition_by="__cell")
    # the manifest's recorded schema: no inference job per segment
    r, jobs = _jobs_started(spark, lambda: snapshot_read(spark, p))
    assert jobs == 0
    assert "__cell" in r.columns
    want = _segment_union(spark, p)
    assert r.schema == want.schema  # the discovered partition type too
    assert _canon(r) == _canon(want) and r.count() == 192
    plan = (
        r.filter(F.col("__cell") == 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the partition filter must reach EVERY segment scan
    assert plan.count("PartitionFilters: [isnotnull(__cell") == 3, plan[:2000]


def test_crash_at_flip_preserves_previous_version(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a")], "id int, v string")
    state.replace_write(v1, p, n_files=1)
    before = _canon(snapshot_read(spark, p))
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            state.replace_write(
                spark.createDataFrame([(9, "z")], "id int, v string"), p
            )
    # reader still sees v1 intact; the debris is an invisible orphan
    assert state.read_manifest(p)["version"] == 1
    assert _canon(snapshot_read(spark, p)) == before
    orphans = [e for e in os.listdir(p) if e.startswith("seg_")]
    assert len(orphans) == 2  # live + orphan
    # next successful commit sweeps the orphan
    state.append_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), p
    )
    live = set(state.read_manifest(p)["segments"])
    assert {e for e in os.listdir(p) if e.startswith("seg_")} == live
    assert _canon(snapshot_read(spark, p)) == [(1, "a"), (2, "b")]


def test_uncommitted_segment_is_invisible(spark, tmp_path):
    p = str(tmp_path / "t")
    state.replace_write(
        spark.createDataFrame([(1, "a")], "id int, v string"), p
    )
    # simulate a crash during the data write itself: a reserved but
    # never-committed segment directory with real parquet in it
    _, seg = state.new_segment(p)
    spark.createDataFrame([(9, "z")], "id int, v string").write.parquet(seg)
    assert _canon(snapshot_read(spark, p)) == [(1, "a")]


def test_legacy_directory_adoption(spark, tmp_path):
    # a pre-manifest table written by the old protocol keeps its
    # history across the first manifest append, and is replaced
    # wholesale by a manifest replace
    p = str(tmp_path / "legacy")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(p)
    state.append_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), p
    )
    assert _canon(snapshot_read(spark, p)) == [(1, "a"), (2, "b")]
    p2 = str(tmp_path / "legacy2")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(p2)
    state.replace_write(
        spark.createDataFrame([(3, "c")], "id int, v string"), p2
    )
    assert _canon(snapshot_read(spark, p2)) == [(3, "c")]
    # and the loose legacy files were folded + swept, not left to
    # shadow plain directory listings
    assert not [e for e in os.listdir(p2) if e.endswith(".parquet")]


def _three_segments(spark, p, partition_by=None):
    for k in range(3):
        state.append_write(
            spark.createDataFrame(
                [(k * 100 + i, f"v{i}", i % 4) for i in range(20)],
                "id int, v string, __cell int",
            ),
            p, partition_by=partition_by,
        )


def test_manifest_read_starts_no_job(spark, tmp_path):
    p = str(tmp_path / "t")
    _three_segments(spark, p)
    seg = os.path.join(p, state.read_manifest(p)["segments"][0])
    # the counter sees the schema-inference job a plain read starts
    assert _jobs_started(spark, lambda: spark.read.parquet(seg))[1] >= 1
    df, jobs = _jobs_started(spark, lambda: state.manifest_read(spark, p))
    assert jobs == 0
    want = _segment_union(spark, p)
    assert df.schema == want.schema
    assert _canon(df) == _canon(want) and len(_canon(df)) == 60


@pytest.mark.parametrize("partition_by", [None, "__cell"])
def test_manifest_read_without_recorded_schema(spark, tmp_path, partition_by):
    """A manifest written before the schema was recorded: the read
    infers it once and returns the per-segment union's rows."""
    import json

    p = str(tmp_path / "old")
    _three_segments(spark, p, partition_by=partition_by)
    mf = os.path.join(p, state.MANIFEST_NAME)
    with open(mf) as f:
        m = json.load(f)
    del m["schema"]
    with open(mf, "w") as f:
        json.dump(m, f)
    df, jobs = _jobs_started(spark, lambda: state.manifest_read(spark, p))
    assert jobs <= 1
    want = _segment_union(spark, p)
    assert df.schema == want.schema
    assert _canon(df) == _canon(want) and len(_canon(df)) == 60


def test_append_of_another_schema_drops_the_record(spark, tmp_path):
    p = str(tmp_path / "t")
    state.append_write(spark.createDataFrame([(1, "a")], "id int, v string"), p)
    assert "schema" in state.read_manifest(p)
    state.append_write(spark.createDataFrame([(2, "b")], "id long, v string"), p)
    assert "schema" not in state.read_manifest(p)
    state.replace_write(spark.createDataFrame([(3, "c")], "id long, v string"), p)
    assert "schema" in state.read_manifest(p)


def test_compaction_keeps_the_batch_fence(spark, tmp_path):
    """compact_table rewrites a fenced table's rows and keeps its
    fence, so a streaming replay after compaction still finds its
    batch committed."""
    from streamtasks_spark.llmdata.dedup import compact_table

    p = str(tmp_path / "t")
    fence = {"query": "q", "batch": 3}
    state.replace_write(spark.range(10).withColumnRenamed("id", "x"), p)
    state.append_write(spark.range(10, 20).withColumnRenamed("id", "x"), p)
    state.append_commit(p, [], fence=fence)
    before = _canon(snapshot_read(spark, p))
    assert compact_table(spark, p, files=1)
    m = state.read_manifest(p)
    assert m["fence"] == fence and len(m["segments"]) == 1
    assert _canon(snapshot_read(spark, p)) == before


def test_local_frame_is_a_jvm_local_relation(spark):
    from streamtasks_spark.session import local_frame

    df = local_frame(
        spark, [(0, [1.0, 2.0], 3.0), (1, [4.0], 5.0)],
        "__cell int, __cv array<double>, __cn double",
    )
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    assert df.collect() == [(0, [1.0, 2.0], 3.0), (1, [4.0], 5.0)]
    empty = local_frame(spark, [], "a long")
    assert empty.collect() == [] and empty.columns == ["a"]


# -------------------------------------------- index/sketch state owners
#
# Each case: build state from batch 1, snapshot the durable state,
# inject a crash at flip #`at` while ingesting batch 2, assert the
# reader still sees batch 1's state intact, then retry batch 2 cleanly
# and assert the final state/answers equal the one-shot build.


def _docs(spark):
    return read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _vecs(spark):
    return read_parquet(spark, f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_bloom_index_crash_at_flip(spark, tmp_path, monkeypatch):
    from streamtasks_spark.llmdata.dedup import BloomIndex, _bloom_bits

    docs = _docs(spark)
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    idx = BloomIndex(str(tmp_path / "bloom"), m_bits=1 << 16)
    idx.ingest(b1)
    before = sorted(
        r["__pos"] for r in snapshot_read(spark, idx.bits_path).collect()
    )
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            idx.ingest(b2)
    after_crash = sorted(
        r["__pos"] for r in snapshot_read(spark, idx.bits_path).collect()
    )
    assert after_crash == before
    idx.ingest(b2)  # clean retry
    want = sorted(
        r["__pos"]
        for r in _bloom_bits(docs, "text", 1 << 16, 5).collect()
    )
    got = sorted(
        set(
            r["__pos"]
            for r in snapshot_read(spark, idx.bits_path).collect()
        )
    )
    assert got == want


def test_paragraph_index_crash_at_flip(spark, tmp_path, monkeypatch):
    """ParagraphIndex has ONE commit (seen/): a crash at the flip
    leaves history untouched, the retry re-reports the batch's
    survivors identically, and the id-ordered ingest sequence still
    converges to the one-shot paragraph_dedup output."""
    from streamtasks_spark.llmdata.dedup import ParagraphIndex, paragraph_dedup

    docs = _docs(spark).select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\n\nshared footer")).alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    idx = ParagraphIndex(str(tmp_path / "para"))
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_kept"])
        for r in idx.ingest(b1).collect()
    }
    before = snapshot_read(spark, idx.seen_path).count()
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            idx.ingest(b2)
    assert snapshot_read(spark, idx.seen_path).count() == before
    for r in idx.ingest(b2).collect():  # clean retry
        assert r["doc_id"] not in got
        got[r["doc_id"]] = (r["n_paras"], r["n_kept"], r["text_kept"])
    want = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_kept"])
        for r in paragraph_dedup(docs).collect()
    }
    assert got == want
    # compact durably folds any replay-duplicated hash rows
    idx.compact(spark, files=2)
    h = snapshot_read(spark, idx.seen_path)
    assert h.count() == h.distinct().count()


@pytest.mark.parametrize("at", [1, 2])
def test_minhash_index_crash_at_flip(spark, tmp_path, monkeypatch, at):
    """flip #1 = hashes (nothing committed), flip #2 = bands (hashes
    committed, postings not) — either way the verify invariant holds:
    no posting can ever reference a missing hash row, and the retry
    converges to the one-shot pair set, emits no pair row twice and
    leaves one hash row per doc."""
    from streamtasks_spark.llmdata.dedup import MinHashIndex, dedup_minhash

    docs = _docs(spark)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = MinHashIndex(str(tmp_path / "mh"), threshold=0.5)
    rows = idx.ingest(b1).collect()
    bands_before = snapshot_read(spark, idx.bands_path).count()
    with _crash_at_flip(monkeypatch, at=at):
        with pytest.raises(_FlipCrash):
            idx.ingest(b2)
    # postings unchanged either way (bands commit is the LAST flip)
    assert snapshot_read(spark, idx.bands_path).count() == bands_before
    hashes = snapshot_read(spark, idx.hashes_path)
    posts = snapshot_read(spark, idx.bands_path)
    # verify-join invariant: every posting has its hash row
    assert (
        posts.join(hashes, "doc_id", "left_anti").count() == 0
    )
    rows += idx.ingest(b2).collect()  # clean retry
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert len(pairs) == len(rows)  # no pair row emitted twice
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash(docs, threshold=0.5).collect()
    }
    assert pairs == want
    h = snapshot_read(spark, idx.hashes_path)
    assert h.count() == h.select("doc_id").distinct().count()
    # compact durably folds any replay-duplicated hash rows
    idx.compact(spark, files_per_table=2)
    h = snapshot_read(spark, idx.hashes_path)
    assert h.count() == h.select("doc_id").distinct().count()


def test_minhash_index_pairs_read_alike_around_the_commit(spark, tmp_path):
    """The staged pairs read the batch's own segments and the history
    segments resolved before them, so no materialization has to guard
    them from their own commit: they evaluate to the same rows before
    the commit, after it, and after the next ingest."""
    from streamtasks_spark.llmdata.dedup import MinHashIndex

    b1, b2, b3 = _three_batches(spark)
    idx = MinHashIndex(str(tmp_path / "mh"), threshold=0.5)
    idx.ingest(b1)
    pairs, commit = idx.stage(b2)
    before = _canon(pairs)
    commit()
    after = _canon(pairs)
    idx.ingest(b3)
    assert before and before == after == _canon(pairs)


def test_ivf_pq_index_caches_its_codebook_until_a_rebuild(spark, tmp_path):
    """The frozen PQ codebook is pulled once per index object: a
    repeat query starts one job fewer for the same rows, and after a
    rebuild the index answers with the retrained codebook, as a fresh
    object over the same path does."""
    from streamtasks_spark.llmdata.similarity import IvfPqIndex

    vecs = _vecs(spark)
    path = str(tmp_path / "ivfpq")
    kw = dict(n_cells=8, n_probe=2)
    IvfPqIndex(path, **kw).ingest(vecs.filter(F.col("vec_id") < 250))
    idx = IvfPqIndex(path, **kw)
    idx.ingest(vecs.filter(F.col("vec_id") >= 250).select(
        "vec_id", F.expr("transform(embedding, x -> x + 3.0)").alias("embedding"),
    ))
    qs = vecs.filter(F.col("vec_id") < 5)
    cold_idx = IvfPqIndex(path, **kw)
    first, cold = _jobs_started(spark, lambda: _canon(cold_idx.query(qs, k=3)))
    again, warm = _jobs_started(spark, lambda: _canon(cold_idx.query(qs, k=3)))
    assert again == first and warm == cold - 1, (cold, warm)
    frozen = idx._load_code(spark)
    idx.rebuild(spark)
    fresh = IvfPqIndex(path, **kw)
    assert idx._load_code(spark) == fresh._load_code(spark) != frozen
    assert _canon(idx.query(qs, k=3)) == _canon(fresh.query(qs, k=3))


def test_ivf_index_crash_at_flip(spark, tmp_path, monkeypatch):
    from streamtasks_spark.llmdata.similarity import IvfIndex

    vecs = _vecs(spark)
    b1 = vecs.filter(F.col("vec_id") < 250)
    b2 = vecs.filter(F.col("vec_id") >= 250)
    qs = vecs.filter(F.col("vec_id") < 5)
    idx = IvfIndex(str(tmp_path / "ivf"), n_cells=8, n_probe=2)
    idx.ingest(b1)
    before = _canon(idx.query(qs, k=3))
    # flips during second ingest: #1 is the cells append (centroids
    # are already frozen)
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            idx.ingest(b2)
    assert _canon(idx.query(qs, k=3)) == before  # answers from v1 only
    idx.ingest(b2)
    one = IvfIndex(str(tmp_path / "ivf_one"), n_cells=8, n_probe=2)
    one.ingest(b1)
    one.ingest(b2)
    assert _canon(idx.query(qs, k=3)) == _canon(one.query(qs, k=3))


@pytest.mark.slow  # slow tier (pytest.ini)
@pytest.mark.parametrize("at", [1, 2])
def test_ivf_pq_index_crash_at_flip(spark, tmp_path, monkeypatch, at):
    """Second-ingest flips: #1 = vectors (raw side), #2 = cells
    (codes). A crash between them leaves orphan RAW rows only — the
    direction query() tolerates by construction (candidates originate
    from cells), never a code row without its raw row, which would
    silently drop an ADC candidate. The retry converges to the
    one-shot twin."""
    from streamtasks_spark.llmdata.similarity import IvfPqIndex

    vecs = _vecs(spark)
    b1 = vecs.filter(F.col("vec_id") < 250)
    b2 = vecs.filter(F.col("vec_id") >= 250)
    qs = vecs.filter(F.col("vec_id") < 5)
    kw = dict(n_cells=8, n_probe=2, m_sub=8, n_codes=8, rerank=4)
    idx = IvfPqIndex(str(tmp_path / "ivfpq"), **kw)
    idx.ingest(b1)
    before = _canon(idx.query(qs, k=3))
    with _crash_at_flip(monkeypatch, at=at):
        with pytest.raises(_FlipCrash):
            idx.ingest(b2)
    # codes table unchanged either way (cells commit is the LAST
    # flip), so answers still come from v1 — and never miss an ADC
    # candidate for lack of a raw row
    assert _canon(idx.query(qs, k=3)) == before
    idx.ingest(b2)
    one = IvfPqIndex(str(tmp_path / "ivfpq_one"), **kw)
    one.ingest(b1)
    one.ingest(b2)
    assert _canon(idx.query(qs, k=3)) == _canon(one.query(qs, k=3))


@pytest.mark.parametrize("kind", ["ivf", "ivf_pq"])
def test_ivf_index_query_tolerates_replayed_ingest(spark, tmp_path, kind):
    """A crash after an ingest's last commit but before the stream's
    checkpoint replays the batch: the same rows are appended twice.
    query() ranks distinct ids only, so the twice-ingested index
    answers exactly like the once-ingested one — no neighbour returned
    twice (IvfIndex), no duplicate code row taking a second rerank·k
    candidate slot (IvfPqIndex)."""
    from streamtasks_spark.llmdata.similarity import IvfIndex, IvfPqIndex

    vecs = _vecs(spark)
    qs = vecs.filter(F.col("vec_id") < 10)
    make = (
        (lambda p: IvfIndex(p, n_cells=8, n_probe=2)) if kind == "ivf"
        else (lambda p: IvfPqIndex(p, n_cells=8, n_probe=2, rerank=4))
    )
    once = make(str(tmp_path / "once"))
    once.ingest(vecs)
    replayed = make(str(tmp_path / "replayed"))
    replayed.ingest(vecs)
    replayed.ingest(vecs)
    want = _canon(once.query(qs, k=5))
    assert len(want) == 50
    assert _canon(replayed.query(qs, k=5)) == want
    # compaction folds the duplicates durably and keeps the answers
    replayed.compact(spark)
    assert _canon(replayed.query(qs, k=5)) == want
    cells = snapshot_read(spark, replayed.cells_path)
    assert cells.count() == snapshot_read(spark, once.cells_path).count()


def test_semdedup_index_crash_at_flip(spark, tmp_path, monkeypatch):
    from streamtasks_spark.llmdata.similarity import SemDedupIndex

    vecs = _vecs(spark)
    b1 = vecs.filter(F.col("vec_id") < 250)
    b2 = vecs.filter(F.col("vec_id") >= 250)
    idx = SemDedupIndex(str(tmp_path / "sem"), threshold=0.35)
    v1 = _canon(idx.ingest(b1))
    kept_before = snapshot_read(spark, idx.kept_path).count()
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            idx.ingest(b2)
    assert snapshot_read(spark, idx.kept_path).count() == kept_before
    v2 = _canon(idx.ingest(b2))  # clean retry
    one = SemDedupIndex(str(tmp_path / "sem_one"), threshold=0.35)
    assert _canon(one.ingest(b1)) == v1
    assert _canon(one.ingest(b2)) == v2


def test_atomic_state_write_crash_at_flip(spark, tmp_path, monkeypatch):
    """The sketch-state rewrite used by the streaming HLL/CMS twins:
    a crash at the flip leaves the previous registers the live ones —
    never empty state, never a half rewrite."""
    from streamtasks_spark.streaming.stateful import _atomic_state_write

    p = str(tmp_path / "sketch")
    _atomic_state_write(
        spark, [(0, 5), (1, 7)], "__bucket int, __M int", p
    )
    before = _canon(snapshot_read(spark, p))
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            _atomic_state_write(
                spark, [(0, 6), (1, 9)], "__bucket int, __M int", p
            )
    assert _canon(snapshot_read(spark, p)) == before
    _atomic_state_write(
        spark, [(0, 6), (1, 9)], "__bucket int, __M int", p
    )
    # _canon sorts columns by name: (__M, __bucket)
    assert _canon(snapshot_read(spark, p)) == [(6, 0), (9, 1)]


class _CaptureForeachBatch:
    """Stands in for a streaming DataFrame: captures the foreachBatch
    function a twin registers, so a test can call it on static
    batches."""

    fn = None

    @property
    def writeStream(self):
        return self

    def foreachBatch(self, fn):
        self.fn = fn
        return self

    def option(self, *_):
        return self

    def start(self):
        return None


def _capture(start, checkpoint, **kw):
    """The per-batch function of twin ``start`` on ``checkpoint``, which
    gets the ``metadata`` file (the query id) Spark writes before batch
    0 unless it has one."""
    os.makedirs(checkpoint, exist_ok=True)
    meta = os.path.join(checkpoint, "metadata")
    if not os.path.exists(meta):
        with open(meta, "w") as f:
            json.dump({"id": str(uuid.uuid4())}, f)
    cap = _CaptureForeachBatch()
    start(cap, checkpoint=checkpoint, **kw)
    return cap.fn


class _flip_then_die(_crash_at_flip):
    """The Nth _flip commits, then raises: a kill after the state
    commit and before the checkpoint commit."""

    def __enter__(self):
        orig = state._flip

        def flip(tmp, dst):
            orig(tmp, dst)
            self.calls += 1
            if self.calls == self.at:
                raise _FlipCrash(f"injected crash after flip #{self.at}")

        self.monkeypatch.setattr(state, "_flip", flip)
        return self


def _three_batches(spark):
    docs = _docs(spark)
    return [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in ((0, 170), (170, 340), (340, 1 << 62))
    ]


def _heavy_hitters(tmp_path, name, ckpt=None):
    """A captured streaming_heavy_hitters over ``name``'s paths."""
    from streamtasks_spark.streaming.stateful import streaming_heavy_hitters

    return _capture(
        streaming_heavy_hitters, str(tmp_path / (ckpt or name) / "ckpt"),
        state_path=str(tmp_path / name / "state"),
        reports_path=str(tmp_path / name / "reports"), width=64, depth=3,
    )


def test_heavy_hitters_cache_waits_for_the_commit(spark, tmp_path, monkeypatch):
    """Count-Min adds are not idempotent: when the state flip fails,
    the twin's cached grid must stay at the committed grid, so a retry
    of the batch counts it once."""
    docs = _docs(spark)
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    ingest = _heavy_hitters(tmp_path, "crash")
    p = str(tmp_path / "crash" / "state")
    ingest(b1, 0)
    before = _canon(snapshot_read(spark, p))
    with _crash_at_flip(monkeypatch):
        with pytest.raises(_FlipCrash):
            ingest(b2, 1)
    assert _canon(snapshot_read(spark, p)) == before
    ingest(b2, 1)  # the retry, same closure
    one = _heavy_hitters(tmp_path, "one")
    one(b1, 0)
    one(b2, 1)
    p_one = str(tmp_path / "one" / "state")
    assert _canon(snapshot_read(spark, p)) == _canon(snapshot_read(spark, p_one))


def test_heavy_hitters_replay_after_the_state_commit(spark, tmp_path, monkeypatch):
    """A kill after the state flip and before the checkpoint commit:
    the batch's fence is in that flip, so its retry, in the same
    process or a restarted one, is skipped. The grid equals a one-shot
    run and every batch has one report row."""
    b1, b2, b3 = _three_batches(spark)
    ingest = _heavy_hitters(tmp_path, "crash")
    ingest(b1, 0)
    with _flip_then_die(monkeypatch):
        with pytest.raises(_FlipCrash):
            ingest(b2, 1)
    ingest(b2, 1)  # the retry, same closure
    ingest(b3, 2)
    _heavy_hitters(tmp_path, "crash")(b3, 2)  # a restarted process
    one = _heavy_hitters(tmp_path, "one")
    for i, b in enumerate((b1, b2, b3)):
        one(b, i)
    state_of = lambda name: _canon(  # noqa: E731
        snapshot_read(spark, str(tmp_path / name / "state"))
    )
    assert state_of("crash") == state_of("one")
    reports_of = lambda name: _canon(  # noqa: E731
        spark.read.parquet(str(tmp_path / name / "reports"))
    )
    assert reports_of("crash") == reports_of("one")
    assert [r[0] for r in reports_of("crash")] == [0, 1, 2]  # batch_id


def _minhash(tmp_path, name):
    """A captured streaming_dedup_minhash over ``name``'s paths."""
    from streamtasks_spark.streaming.stateful import streaming_dedup_minhash

    return _capture(
        streaming_dedup_minhash, str(tmp_path / name / "ckpt"),
        index_path=str(tmp_path / name / "index"),
        pairs_path=str(tmp_path / name / "pairs"), threshold=0.5,
    )


def _index_twins():
    """kind -> (twin, output keyword, options, index class, its
    tables, the output key each row holds once, (table, key) pairs
    each index row holds once)."""
    from streamtasks_spark.llmdata.dedup import BloomIndex, MinHashIndex
    from streamtasks_spark.llmdata.similarity import IvfPqIndex, SemDedupIndex
    from streamtasks_spark.streaming import stateful as st

    return {
        "minhash": (
            st.streaming_dedup_minhash, "pairs_path", {"threshold": 0.5},
            MinHashIndex, ("hashes", "bands"), ("doc_a", "doc_b"),
            [("hashes", "doc_id")],
        ),
        "bloom": (
            st.streaming_bloom_dedup, "flags_path", {"m_bits": 1 << 16},
            BloomIndex, ("bits",), ("doc_id",), [],
        ),
        "semantic": (
            st.streaming_semantic_dedup, "verdicts_path", {},
            SemDedupIndex, ("codebook", "kept"), ("vec_id",),
            [("kept", "vec_id")],
        ),
        "ann": (
            st.streaming_ann_ingest, "reports_path", {},
            IvfPqIndex, ("centroids", "pq_codebook", "vectors", "cells", "stats"),
            ("ingest_id",), [("cells", "vec_id"), ("stats", "ingest_id")],
        ),
    }


def _index_twin_batches(spark, kind):
    if kind in ("minhash", "bloom"):
        return _three_batches(spark)
    vecs = _vecs(spark)
    return [
        vecs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in ((0, 170), (170, 340), (340, 1 << 62))
    ]


def _index_twin(tmp_path, kind, name):
    """A captured index twin of ``kind`` over ``name``'s paths, and a
    reader of its (output, index tables)."""
    twin, out_kw, opts, _, tables, _, _ = _index_twins()[kind]
    base = tmp_path / name
    ingest = _capture(
        twin, str(base / "ckpt"), index_path=str(base / "index"),
        **{out_kw: str(base / "out")}, **opts,
    )

    def read(spark):
        return (
            spark.read.parquet(str(base / "out")),
            {t: snapshot_read(spark, str(base / "index" / t)) for t in tables},
        )

    return ingest, read


def _canon_run(run):
    out, tables = run
    return _canon(out), {t: _canon(df) for t, df in tables.items()}


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """kind -> the canonical (output, index tables) of three batches
    through its index twin without a kill, run once per kind."""
    runs = {}

    def run(kind):
        if kind not in runs:
            ingest, read = _index_twin(tmp_path_factory.mktemp(kind), kind, "one")
            for i, b in enumerate(_index_twin_batches(spark, kind)):
                ingest(b, i)
            runs[kind] = _canon_run(read(spark))
        return runs[kind]

    return run


@pytest.mark.parametrize("kind, at", [
    ("minhash", 1), ("minhash", 2), ("bloom", 1), ("semantic", 1),
    ("ann", 1), ("ann", 2), ("ann", 3),
])
def test_index_twin_replay_after_the_index_commit(
    spark, tmp_path, monkeypatch, uninterrupted, kind, at
):
    """A kill right after flip ``at`` of an index twin's commit (before
    its last flip the commit is torn between tables), before the
    checkpoint commit, then the replay of that batch and one more
    batch: the output holds one copy of every batch, and output and
    index tables equal a run without the kill (semantic ``kept/``
    holds each survivor once, ANN ``stats/`` one row per batch). A
    restarted process that replays the last batch after a compaction
    changes nothing."""
    *_, index_cls, _, out_key, once = _index_twins()[kind]
    b1, b2, b3 = _index_twin_batches(spark, kind)
    ingest, read = _index_twin(tmp_path, kind, "crash")
    ingest(b1, 0)
    with _flip_then_die(monkeypatch, at=at):
        with pytest.raises(_FlipCrash):
            ingest(b2, 1)
    ingest(b2, 1)  # the replay, same closure
    ingest(b3, 2)
    out, tables = read(spark)
    assert _canon_run((out, tables)) == uninterrupted(kind)
    assert {r["batch_id"] for r in out.select("batch_id").collect()} == {0, 1, 2}
    assert out.count() == out.select(*out_key).distinct().count()
    if kind == "minhash":  # and the pairs are the one-shot pairs
        from streamtasks_spark.llmdata.dedup import dedup_minhash

        assert sorted(r[1:] for r in _canon(out)) == _canon(dedup_minhash(
            b1.unionByName(b2).unionByName(b3), threshold=0.5
        ))
    for t, key in once:
        assert tables[t].count() == tables[t].select(key).distinct().count(), t
    index_cls(str(tmp_path / "crash" / "index")).compact(spark)
    before = _canon_run(read(spark))
    _index_twin(tmp_path, kind, "crash")[0](b3, 2)  # a restarted process
    assert _canon_run(read(spark)) == before


def test_ivf_pq_index_compaction_after_a_torn_commit(spark, tmp_path, monkeypatch):
    """A kill after the ``vectors/`` and ``cells/`` flips of an ingest,
    before ``stats/``: compaction undoes the torn commit before it
    rewrites the cell tables, so the retried ingest leaves the tables
    of an index that ingested each batch once."""
    from streamtasks_spark.llmdata.similarity import IvfPqIndex

    vecs = _vecs(spark)
    b1, b2 = vecs.filter(F.col("vec_id") < 250), vecs.filter(F.col("vec_id") >= 250)
    torn = IvfPqIndex(str(tmp_path / "torn"), n_cells=8, n_probe=2)
    torn.ingest(b1)
    with _flip_then_die(monkeypatch, at=2):
        with pytest.raises(_FlipCrash):
            torn.ingest(b2)
    torn.compact(spark)
    torn.ingest(b2)
    one = IvfPqIndex(str(tmp_path / "one"), n_cells=8, n_probe=2)
    one.ingest(b1)
    one.ingest(b2)
    for t in ("vectors", "cells", "stats"):
        assert _canon(snapshot_read(spark, f"{torn.path}/{t}")) == _canon(
            snapshot_read(spark, f"{one.path}/{t}")
        ), t


def test_bloom_dedup_batch_runs_no_count_job(spark, tmp_path):
    """A steady streaming_bloom_dedup batch from one file runs at most
    7 Spark jobs: nothing evaluates the flags before they are written,
    because the flags read the history segments live before the
    batch's bits land, never the bits themselves."""
    docs = _docs(spark)
    files = []
    for i, (lo, hi) in enumerate(((0, 100), (100, 150), (150, 200))):
        f = str(tmp_path / "src" / f"b{i}")
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.parquet(f)
        files.append(f)
    ingest, _ = _index_twin(tmp_path, "bloom", "b")
    ingest(spark.read.parquet(files[0]), 0)
    ingest(spark.read.parquet(files[1]), 1)
    _, jobs = _jobs_started(spark, lambda: ingest(spark.read.parquet(files[2]), 2))
    assert jobs <= 7, jobs


def test_dedup_minhash_batch_work_does_not_grow_with_history(spark, tmp_path):
    """A steady dedup_minhash batch from one file runs at most 6 Spark
    jobs and 10 tasks, and the same jobs and tasks over a history of N
    docs as over 4N: its fixed cost does not grow with the history it
    is checked against."""
    docs = _docs(spark)

    def batch_file(name, lo, hi):
        f = str(tmp_path / "src" / name)
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.parquet(f)
        return spark.read.parquet(f)

    steady = [batch_file(f"s{i}", 400 + 50 * i, 450 + 50 * i) for i in (0, 1)]
    work = []
    for n in (100, 400):
        ingest = _minhash(tmp_path, f"h{n}")
        ingest(batch_file(f"h{n}", 0, n), 0)
        ingest(steady[0], 1)
        work.append(_work_of(spark, lambda: ingest(steady[1], 2)))
    assert work[0] == work[1] and work[0][0] <= 6 and work[0][1] <= 10, work


def _part_files(path) -> int:
    return sum(
        n.startswith("part-") for _, _, names in os.walk(path) for n in names
    )


def test_dedup_minhash_batch_keeps_its_source_partitioning(spark, tmp_path):
    """A steady dedup_minhash batch read from one small file is one
    partition, and is not reshuffled: it adds one ``hashes/`` and one
    ``bands/`` part file to the index."""
    docs = _docs(spark)
    files = []
    for i, (lo, hi) in enumerate(((0, 100), (100, 200))):
        f = str(tmp_path / "src" / f"b{i}")
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.parquet(f)
        files.append(f)
    ingest = _minhash(tmp_path, "m")
    ingest(spark.read.parquet(files[0]), 0)
    index = tmp_path / "m" / "index"
    before = [_part_files(index / t) for t in ("hashes", "bands")]
    ingest(spark.read.parquet(files[1]), 1)
    after = [_part_files(index / t) for t in ("hashes", "bands")]
    assert [a - b for a, b in zip(after, before)] == [1, 1], (before, after)


def test_minhash_index_ingest_spreads_a_single_file(spark, tmp_path, monkeypatch):
    """``MinHashIndex.ingest`` is a bulk load: a one-file frame is
    still repartitioned before it is sketched, so it shingles at full
    parallelism."""
    from streamtasks_spark.llmdata import dedup

    f = str(tmp_path / "src")
    _docs(spark).coalesce(1).write.parquet(f)
    seen = []
    kernel = dedup._shingle_kernel

    def spy(docs, *a):
        seen.append(docs)
        return kernel(docs, *a)

    monkeypatch.setattr(dedup, "_shingle_kernel", spy)
    dedup.MinHashIndex(str(tmp_path / "index")).ingest(spark.read.parquet(f))
    assert len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(doc_id" in plan, plan


def test_unigram_lm_replay_keeps_one_copy(spark, tmp_path):
    """A frozen-model twin's batch rewrites its own directory: the same
    batch id twice leaves one copy of its rows."""
    from streamtasks_spark.llmdata.quality import unigram_lm_train
    from streamtasks_spark.streaming.stateful import streaming_unigram_lm

    docs = _docs(spark)
    vocab, total = unigram_lm_train(docs, vocab_size=64)
    out = str(tmp_path / "scores")
    score = _capture(
        streaming_unigram_lm, str(tmp_path / "ckpt"),
        vocab=vocab, total=total, scores_path=out,
    )
    b0, b1 = (docs.filter(F.col("doc_id") % 2 == i) for i in (0, 1))
    score(b0, 0)
    score(b1, 1)
    once = _canon(spark.read.parquet(out))
    score(b1, 1)
    assert _canon(spark.read.parquet(out)) == once
    assert len(once) == docs.count()


def test_second_query_on_an_output_path_is_refused(spark, tmp_path):
    """One query per output path: a batch of another query id fails,
    naming both ids, before it writes output or state."""
    b1, b2, _ = _three_batches(spark)
    _heavy_hitters(tmp_path, "hh")(b1, 0)
    state_p = str(tmp_path / "hh" / "state")
    reports_p = str(tmp_path / "hh" / "reports")
    manifest = state.read_manifest(state_p)
    reports = _canon(spark.read.parquet(reports_p))
    other = _heavy_hitters(tmp_path, "hh", ckpt="other")
    with open(os.path.join(reports_p, "_QUERY_ID")) as f:
        owner = f.read()
    with open(str(tmp_path / "other" / "ckpt" / "metadata")) as f:
        intruder = json.load(f)["id"]
    with pytest.raises(ValueError) as e:
        other(b2, 1)
    assert owner in str(e.value) and intruder in str(e.value)
    assert state.read_manifest(state_p) == manifest
    assert _canon(spark.read.parquet(reports_p)) == reports
    assert sorted(os.listdir(reports_p)) == ["_QUERY_ID", "batch_id=0"]


def test_empty_batch_commits_no_state_and_writes_no_rows(spark, tmp_path):
    """An empty batch (what a stateful upstream's no-data batch can
    deliver) leaves every table's rows as they were."""
    from streamtasks_spark.llmdata.quality import unigram_lm_train
    from streamtasks_spark.streaming.stateful import streaming_unigram_lm

    b1, _, _ = _three_batches(spark)
    empty = b1.limit(0)
    ingest = _heavy_hitters(tmp_path, "hh")
    ingest(b1, 0)
    state_p = str(tmp_path / "hh" / "state")
    manifest = state.read_manifest(state_p)
    ingest(empty, 1)
    assert state.read_manifest(state_p) == manifest
    assert spark.read.parquet(str(tmp_path / "hh" / "reports")).count() == 1

    vocab, total = unigram_lm_train(b1, vocab_size=16)
    out = str(tmp_path / "scores")
    score = _capture(
        streaming_unigram_lm, str(tmp_path / "ckpt"),
        vocab=vocab, total=total, scores_path=out,
    )
    score(b1, 0)
    score(empty, 1)
    assert spark.read.parquet(out).count() == b1.count()


def _codegen_compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_dedup_minhash_batches_reuse_generated_code(spark, tmp_path):
    """The batch id reaches the output through its directory, not a
    literal in the plan, so once warm a batch compiles no new classes,
    and a batch with rows starts no isEmpty job."""
    from streamtasks_spark.streaming.stateful import streaming_dedup_minhash

    docs = _docs(spark)
    files = []
    for i in range(6):
        f = str(tmp_path / "src" / f"b{i}")
        docs.filter(F.col("doc_id") % 6 == i).coalesce(1).write.parquet(f)
        files.append(f)
    ingest = _capture(
        streaming_dedup_minhash, str(tmp_path / "ckpt"),
        index_path=str(tmp_path / "index"),
        pairs_path=str(tmp_path / "pairs"), threshold=0.5,
    )
    sc = spark.sparkContext
    compiled = []
    for i, f in enumerate(files):
        group = f"batch-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            ingest(spark.read.parquet(f), i)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        compiled.append(_codegen_compiles(spark))
        st = sc.statusTracker()
        stages = [
            st.getStageInfo(s)
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
        ]
        assert not [s.name for s in stages if s and s.name.startswith("isEmpty")]
    assert compiled[5] == compiled[2], compiled
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0
