"""Versioned-manifest commit protocol for persistent parquet state.

Every persistent index/sketch table in the engine (BloomIndex,
MinHashIndex, IvfIndex, IvfPqIndex, SemDedupIndex, the streaming
sketch states) commits through this module instead of directory
renames. The protocol:

- Data lands in IMMUTABLE segment directories ``seg_<tag>/`` under the
  table path. A writer never modifies a committed segment — each
  ingest/rewrite creates a new one.
- A single small pointer file ``_MANIFEST.json`` names the live
  segment set (``{"version": N, "segments": [...], "schema": {...},
  "fence": {...}}``).
  Readers resolve the table THROUGH the manifest; uncommitted segments
  are invisible. ``schema`` is the StructType JSON of the segments'
  parquet files (:func:`file_schema`), recorded at commit whenever
  every live segment is known to share it, so a read resolves without
  a schema-inference Spark job per segment. It is absent on manifests
  written before it was recorded and after appending to adopted
  legacy files; readers then infer it once. ``fence`` is the
  ``{"query": id, "batch": n}`` of the streaming micro-batch whose
  state this version is, when a streaming twin commits it: the batch
  and its state become durable in the same flip, so a replay of that
  batch can tell it is already in (:meth:`Staging.committed`). A
  non-streaming :class:`Staging` batch records a fresh token there
  instead, so a commit torn between its flips is still told apart.
- Commit = write the new manifest to a sibling temp file, fsync, then
  one atomic single-file replace (:func:`os.replace`). A crash at ANY
  point before the flip leaves the previous manifest — and therefore
  the previous table version — fully intact; the only debris is an
  orphan segment directory, which is inert (never resolved) and swept
  by the next successful commit's GC.

Why single-FILE replace and not the directory-rename swap this module
replaces: directory rename is atomic on POSIX/HDFS but is COPY+DELETE
on S3-class object stores, reopening the crash window exactly where a
100 TB deployment keeps its indexes. Atomic replacement of one small
object is the primitive every target filesystem actually provides —
POSIX ``rename(2)``, HDFS rename, an object-store single-object PUT
(S3 has strong read-after-write consistency since 2020). On an object
store, swap the ``open``/``os.replace`` pair in :func:`_flip` for a
PUT of the manifest key; nothing else changes. (This mirrors how
Delta/Iceberg commit: data files first, then one atomic pointer/log
entry — the public commit-protocol pattern.)

The manifest name starts with ``_`` so Spark's file listing ignores it
(the same convention as ``_SUCCESS``/``_temporary``); a plain
``spark.read.parquet(path)`` over a freshly-GC'd table still sees only
live data files, but the CONTRACT is that readers resolve through
:func:`manifest_read` (what ``dedup.snapshot_read`` does when a
manifest is present) — after a crash, unreferenced orphan segments may
sit on disk until the next commit sweeps them.

Every index ingests a batch through ONE protocol, :class:`Staging`,
over the append-only tables it advances together, in a fixed order:
**stage** — skip a batch whose streaming fence the LAST table already
holds, else adopt pre-manifest tables and repair; **land** — write
each table's rows into a new uncommitted segment and read them back
with their recorded schema, so a plan over them and over history
resolved before them reads an explicit segment list that no commit
can change; **fenced commit** — once the caller's output is durable,
append the segments table by table, every flip carrying the batch's
fence; **repair** — an earlier table carrying a fence the last one
lacks is a commit torn between its flips: the next stage (or a
compaction) drops that table's last segment and records the last
table's fence, so a retry appends the batch once.

Concurrency contract: ONE writer per table (the index ingest
discipline). Readers are snapshot-isolated for free — segments are
immutable and the manifest read is one atomic file read, so a reader
resolves either version N or N+1, never a torn mix. GC runs inside
commit under the single-owner contract; compaction additionally
requires no concurrent reader mid-query (it deletes superseded
segments a long-running plan may still reference — same exclusivity
:func:`dedup.compact_table` always demanded, minus its crash window).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

MANIFEST_NAME = "_MANIFEST.json"
_SEG_PREFIX = "seg_"
_TMP_PREFIX = "_MANIFEST.tmp."


def _manifest_file(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def read_manifest(path: str) -> dict | None:
    """The live manifest (``{"version": int, "segments": [str]}``, plus
    ``"schema"`` and ``"fence"`` when recorded), or None when the table
    has never committed through the protocol."""
    try:
        with open(_manifest_file(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def new_segment(path: str) -> tuple[str, str]:
    """Reserve a fresh (uncommitted, hence invisible) segment directory
    under ``path``; returns (name, absolute path). The caller writes
    parquet into it, then commits the NAME."""
    name = f"{_SEG_PREFIX}{uuid.uuid4().hex[:12]}"
    os.makedirs(path, exist_ok=True)
    return name, os.path.join(path, name)


def _flip(tmp: str, dst: str) -> None:
    """THE commit point: one atomic single-file replacement. Isolated
    so crash-injection tests can fail exactly here, and so an
    object-store deployment can swap in a single-object PUT."""
    os.replace(tmp, dst)


def file_schema(df, partition_by: str | None = None):
    """The schema of the parquet files ``df``'s write produces, as a
    read returns it: every field nullable (the parquet source reads all
    columns as nullable), without the ``partition_by`` column — that
    one lives in directory names, and a read still discovers it (and
    infers its type) from them without a job. This is what a commit
    records, so readers skip the footer-inference job."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def nullable(t):
        if isinstance(t, StructType):
            return StructType([
                StructField(f.name, nullable(f.dataType), True, f.metadata)
                for f in t
            ])
        if isinstance(t, ArrayType):
            return ArrayType(nullable(t.elementType), True)
        if isinstance(t, MapType):
            return MapType(nullable(t.keyType), nullable(t.valueType), True)
        return t

    return nullable(
        StructType([f for f in df.schema if f.name != partition_by])
    )


def commit_segments(path: str, segments: list[str], *, gc: bool = True,
                    schema=None, fence: dict | None = None) -> None:
    """Atomically point the manifest at exactly ``segments`` (REPLACE
    semantics). Data must already be fully written; ``schema`` (a
    StructType, see :func:`file_schema`) is recorded when every
    segment in the set has it, ``fence`` (``{"query": id, "batch": n}``)
    in the same flip. On success, sweeps segment directories
    the new manifest no longer references — superseded versions and
    crash orphans alike (single-owner contract)."""
    prev = read_manifest(path)
    version = (prev["version"] if prev else 0) + 1
    m = {"version": version, "segments": list(segments)}
    if schema is not None:
        m["schema"] = schema.jsonValue()
    if fence is not None:
        m["fence"] = fence
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"{_TMP_PREFIX}{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(json.dumps(m))
        f.flush()
        os.fsync(f.fileno())
    _flip(tmp, _manifest_file(path))
    if gc:
        gc_segments(path)


def append_commit(path: str, new_names: list[str], *, gc: bool = True,
                  schema=None, fence: dict | None = None) -> None:
    """Atomically extend the live segment set with ``new_names``
    (APPEND semantics — one pointer flip makes the whole batch of new
    segments visible at once). ``schema`` is that of the new segments;
    it stays recorded only if the live segments are recorded with the
    same one. ``fence`` is recorded in the same flip."""
    prev = read_manifest(path)
    base = prev["segments"] if prev else []
    if base and schema is not None and prev.get("schema") != schema.jsonValue():
        schema = None
    commit_segments(
        path, base + list(new_names), gc=gc, schema=schema, fence=fence
    )


def gc_segments(path: str) -> None:
    """Remove segment directories and manifest temp files not
    referenced by the live manifest. Safe only under the single-owner
    write contract (an unreferenced segment is either superseded or a
    crash orphan — never a concurrent writer's work in flight, because
    there is no concurrent writer)."""
    m = read_manifest(path)
    live = set(m["segments"]) if m else set()
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return
    for entry in entries:
        full = os.path.join(path, entry)
        if entry.startswith(_SEG_PREFIX) and entry not in live and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif entry.startswith(_TMP_PREFIX) and os.path.isfile(full):
            try:
                os.remove(full)
            except OSError:
                pass


def _partition_cols(segs: list[str]) -> set[str]:
    """Directory-partition column names (``__cell`` of ``__cell=N/``)
    found under any of ``segs``."""
    cols = set()
    for seg in segs:
        try:
            cols.update(e.split("=", 1)[0] for e in os.listdir(seg) if "=" in e)
        except FileNotFoundError:
            pass
    return cols


def manifest_read(spark, path: str):
    """DataFrame over the committed segments (None before the first
    commit or when the live set is empty). Reads with the manifest's
    recorded file schema (:func:`file_schema`), so building the
    DataFrame starts no Spark job; a manifest without one infers it
    once, from the first segment.
    Unpartitioned segments are one scan over all of them.
    Directory-partitioned layouts (``__cell=N/``) read each segment
    with its own ``basePath`` — Spark rejects several partitioned
    roots in one read — so they keep their partition column and
    per-segment partition pruning, and the segments union by name.
    Snapshot isolation is structural: segments are immutable, so the
    set resolved here cannot change under the plan. Segment count is
    bounded by compaction (one compact = one segment), keeping the
    union shallow."""
    from pyspark.sql.types import StructType

    m = read_manifest(path)
    if m is None or not m["segments"]:
        return None
    segs = [os.path.join(path, name) for name in m["segments"]]
    part_cols = _partition_cols(segs)
    if m.get("schema"):
        schema = StructType.fromJson(m["schema"])
    else:
        inferred = spark.read.option("basePath", segs[0]).parquet(segs[0]).schema
        schema = StructType([f for f in inferred if f.name not in part_cols])
    if not part_cols:
        return spark.read.schema(schema).parquet(*segs)
    parts = [
        spark.read.schema(schema).option("basePath", seg).parquet(seg)
        for seg in segs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def adopt_legacy(path: str) -> list[str]:
    """One-time migration hook: fold a pre-manifest directory's loose
    content (part files or partition dirs written by the old
    rename-swap protocol) into a synthetic segment and return its name
    for inclusion in the first commit. NOT crash-atomic (it moves
    files) — run it offline relative to readers, once, at upgrade.
    Returns [] when there is nothing to adopt."""
    try:
        entries = [
            e for e in os.listdir(path)
            if not e.startswith(_SEG_PREFIX)
            and not e.startswith("_MANIFEST")
            and not e.startswith(".")
        ]
    except FileNotFoundError:
        return []
    if not entries:
        return []
    name, seg = new_segment(path)
    os.makedirs(seg)
    for e in entries:
        shutil.move(os.path.join(path, e), os.path.join(seg, e))
    return [name]


def replace_write(df, path: str, *, n_files: int | None = None,
                  partition_by: str | None = None,
                  fence: dict | None = None) -> None:
    """Write ``df`` as the table's new (sole) version: land a segment,
    flip the pointer, sweep the old version. The crash-safe successor
    of the ``write.mode('overwrite')``-then-rename-swap pattern — a
    crash anywhere before the flip leaves the previous version the
    live one. ``n_files`` repartitions (a shuffle, round-robin) to
    exactly that many files; the rows are the same for
    row-order-insensitive readers, which every reader of these tables
    is. It is not ``coalesce``: that would fold a pickled local
    relation's slices into one task evaluating them through the Python
    worker one after another. ``fence`` is recorded in the flip (see
    :func:`commit_segments`)."""
    name, seg = new_segment(path)
    w = df.repartition(n_files) if n_files else df
    writer = w.write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(seg)
    if read_manifest(path) is None:
        # pre-manifest loose files are being REPLACED, not kept: fold
        # them into an (unreferenced) segment so the flip's GC sweeps
        # them instead of leaving them to shadow plain directory reads
        adopt_legacy(path)
    commit_segments(
        path, [name], schema=file_schema(df, partition_by), fence=fence
    )


def append_write(df, path: str, *, partition_by: str | None = None) -> None:
    """Append ``df`` to the table at ``path`` as one committed segment
    (the crash-safe successor of ``write.mode('append')``)."""
    st = Staging.open((path,))
    st.land(df, path, partition_by=partition_by)
    st.commit()


class Staging:
    """One batch's ingest into the append-only tables ``paths``, in
    commit order; the last is authoritative (module docstring).
    ``fence`` is the streaming ``{"query": id, "batch": n}``; without
    one the commit records a fresh token."""

    def __init__(self, paths: tuple[str, ...], fence: dict | None = None):
        self.paths = paths
        self.fence = fence or {"ingest": uuid.uuid4().hex}
        self.landed: dict[str, tuple] = {}

    def committed(self) -> bool:
        """Whether the last table holds the streaming fence's batch: a
        fence of the same query at that batch or a later one."""
        done = (read_manifest(self.paths[-1]) or {}).get("fence") or {}
        query = self.fence.get("query")
        return query is not None and done.get("query") == query and (
            done["batch"] >= self.fence["batch"]
        )

    @classmethod
    def open(cls, paths: tuple[str, ...], fence: dict | None = None):
        """The staging of a batch, or None when ``fence`` is already
        committed. Adopts pre-manifest tables, then undoes a torn
        commit: an earlier table whose fence the last lacks is pointed
        back at the segments before its last one, with that fence."""
        from pyspark.sql.types import StructType

        st = cls(paths, fence)
        if st.committed():
            return None
        for path in paths:
            if read_manifest(path) is None and (legacy := adopt_legacy(path)):
                commit_segments(path, legacy)
        done = (read_manifest(paths[-1]) or {}).get("fence")
        for path in paths[:-1]:
            m = read_manifest(path)
            if m is not None and m.get("fence") not in (None, done):
                commit_segments(
                    path, m["segments"][:-1], fence=done,
                    schema=m.get("schema") and StructType.fromJson(m["schema"]),
                )
        return st

    def land(self, df, path: str, *, partition_by: str | None = None):
        """Write ``df`` into a new uncommitted segment of ``path`` and
        return it read back with its recorded schema (no inference job)."""
        name, seg = new_segment(path)
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(seg)
        schema = file_schema(df, partition_by)
        self.landed[path] = (name, schema)
        reader = df.sparkSession.read.schema(schema)
        if partition_by:
            reader = reader.option("basePath", seg)
        return reader.parquet(seg)

    def commit(self) -> None:
        """Append each landed segment, in table order, with the fence."""
        for path in self.paths:
            name, schema = self.landed[path]
            append_commit(path, [name], schema=schema, fence=self.fence)
