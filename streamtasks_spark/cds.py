"""Start-up class archive for the driver JVM (dynamic AppCDS, JEP 350).

Most of a session's start-up is the JVM loading, verifying and linking
Spark's classes. JDK 17 can record the application classes a run
loaded into an archive at exit (``-XX:ArchiveClassesAtExit``) and map
them into every later JVM (``-XX:SharedArchiveFile``), which skips
that work. Measured with perfbench on 4 vCPUs (15 runs each side): the
session is up 2.9–3.9 s after process start instead of 5.6–7.1 s.

An archive is only valid for the JDK build, the classpath and the
heap size (compressed oops or not) it was recorded with, so each
archive is keyed by the JDK, the Spark jar list (names, sizes, mtimes)
and the ``spark.driver.memory`` setting. A 4g and a 48g JVM therefore
keep separate archives, and neither invalidates the other.

Files in the cache directory (``SPARK_GRAFT_CDS_DIR``, default
``${XDG_CACHE_HOME:-~/.cache}/streamtasks_spark/cds``; an empty value
turns the archive off):

- ``<key>.jsa``: the published archive. It only ever appears by
  :func:`os.replace`, after a validation launch mapped it.
- ``<key>.json``: its size and mtime at publication; a launch that
  finds them changed deletes the archive instead of mapping it.
- ``<key>.<token>.part``: a recording's dump target. The JVM writes it
  at exit; a JVM killed mid-dump leaves it truncated, and a truncated
  archive crashes a JVM that maps it (SIGBUS, even under
  ``-Xshare:auto``), so a part is never mapped directly.
- ``<key>.<token>.writer``: the recording JVM's pid, start time,
  classpath and heap. A later launch promotes the part once that JVM
  has exited and ``-Xshare:on -XX:+VerifySharedSpaces`` (a CRC over
  every region) maps it; otherwise it deletes both files.
- ``<key>.failed``: the number of recordings that left no valid
  archive. After ``_MAX_FAILED`` the key stops recording, so a
  classpath CDS cannot archive does not slow every launch.
- ``<key>.lock``: an ``flock`` that serialises promotion and clean-up
  between processes starting at the same time.
- ``empty-conf/``: the empty ``SPARK_CONF_DIR`` the launches use. CDS
  refuses a non-empty directory on the classpath, and Spark puts its
  conf directory there; a conf directory holding only ``*.template``
  files configures nothing, so it is swapped for this one.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import logging
import os
import re
import secrets
import shutil
import subprocess
from dataclasses import dataclass

log = logging.getLogger(__name__)

ENV = "SPARK_GRAFT_CDS_DIR"
_MAX_FAILED = 3
# Spark's launcher splits extraJavaOptions on whitespace and quotes
_UNSAFE_PATH = re.compile(r"[\s'\"\\]")
# the recording JVM prints hundreds of "Skipping <class>" warnings on
# stdout at exit, after bench.py's and perfbench's last JSON line
_RECORD_LOG = "-Xlog:cds=off,cds+dynamic=off"
# a mapping launch keeps CDS warnings (an archive it cannot use), on stderr
_MAP_LOG = f"{_RECORD_LOG} -Xlog:cds=warning,cds+dynamic=warning:stderr"


@dataclass
class Launch:
    """What one JVM start needs: options to prepend to
    ``spark.driver.extraJavaOptions``, the ``SPARK_CONF_DIR`` to launch
    with, and, for a recording launch, its writer record."""

    java_options: str
    conf_dir: str
    writer: str | None = None


def cache_dir() -> str | None:
    """The archive directory, or None when ``SPARK_GRAFT_CDS_DIR`` is
    set to an empty value."""
    root = os.environ.get(ENV)
    if root is not None:
        return root or None
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "streamtasks_spark", "cds")


def java_binary() -> str | None:
    """The java that Spark's ``spark-class`` script runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _stat_id(path: str) -> list:
    st = os.stat(path)
    return [st.st_size, st.st_mtime_ns]


def archive_key(java: str, jars_dir: str, driver_memory: str) -> str:
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    ident = [java, _stat_id(java)]
    for rel in ("release", "lib/server/libjvm.so"):
        p = os.path.join(jdk, rel)
        if os.path.isfile(p):
            ident.append([rel, _stat_id(p)])
    jars = sorted([n, *_stat_id(os.path.join(jars_dir, n))]
                  for n in os.listdir(jars_dir))
    blob = json.dumps([ident, jars, driver_memory]).encode()
    safe_mem = re.sub(r"[^0-9A-Za-z]", "_", driver_memory)
    return f"{safe_mem}-{hashlib.sha256(blob).hexdigest()[:16]}"


def _conf_dir_problem(spark_home: str) -> str | None:
    """Why the classpath directories rule out an archive, or None."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf):
        real = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
        if real:
            return (f"SPARK_CONF_DIR {conf} holds {real[0]}, and CDS refuses "
                    "a non-empty directory on the classpath")
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        d = os.environ.get(var)
        if d and os.path.isdir(d) and os.listdir(d):
            return (f"{var} {d} is not empty, and CDS refuses a non-empty "
                    "directory on the classpath")
    return None


def _start_time(pid: int) -> int | None:
    """Kernel start time of ``pid`` (guards against pid reuse), or None
    when there is no such process or no /proc."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _alive(pid: int, start: int | None) -> bool:
    cur = _start_time(pid)
    if cur is not None:
        return start is None or cur == start
    if os.path.isdir("/proc/self"):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass
    return True


def _write_json(path: str, obj) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _maps(java: str, archive: str, classpath: str, heap: str) -> bool:
    """Whether a JVM with this classpath and heap maps ``archive``:
    ``-Xshare:on`` fails instead of falling back, and
    ``VerifySharedSpaces`` checks every region's CRC, so a truncated,
    corrupt or foreign archive exits non-zero."""
    cmd = [java, "-Xshare:on", "-XX:+VerifySharedSpaces",
           f"-XX:SharedArchiveFile={archive}", f"-Xmx{heap}",
           "-XX:-CreateCoredumpOnCrash", f"-XX:ErrorFile={os.devnull}",
           "-cp", classpath, "-version"]
    try:
        return subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=120).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


@contextlib.contextmanager
def _locked(path: str):
    import fcntl

    with open(path, "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def prepare(driver_memory: str) -> Launch | None:
    """Plan the first JVM start of this process: map the published
    archive for this key, or record one, or (None) start without.
    Promotes or deletes what earlier recordings left first."""
    root = cache_dir()
    if root is None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    java = java_binary()
    why = _conf_dir_problem(spark_home)
    if why is None and (java is None or not os.path.isdir(jars)):
        why = f"no java binary or no {jars}"
    if why is None and _UNSAFE_PATH.search(os.path.abspath(root)):
        why = f"{ENV} {root} contains whitespace, a quote or a backslash"
    if why is not None:
        log.warning("streamtasks_spark: start-up class archive off: %s", why)
        return None
    root = os.path.abspath(root)
    empty = os.path.join(root, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        key = archive_key(java, jars, driver_memory)
        with _locked(os.path.join(root, f"{key}.lock")):
            return _plan(root, key, java, empty)
    except (OSError, ImportError) as e:
        log.warning("streamtasks_spark: start-up class archive off: %s", e)
        return None


def _plan(root: str, key: str, java: str, empty: str) -> Launch | None:
    base = os.path.join(root, key)
    published, meta, failed = f"{base}.jsa", f"{base}.json", f"{base}.failed"
    recording = False
    for writer in glob.glob(f"{glob.escape(base)}.*.writer"):
        rec = _read_json(writer) or {}
        if "pid" in rec and _alive(rec["pid"], rec.get("start")):
            recording = True
            continue
        part = writer[: -len(".writer")] + ".part"
        if not os.path.exists(published):
            if ("classpath" in rec and os.path.isfile(part)
                    and _maps(java, part, rec["classpath"], rec["heap"])):
                os.replace(part, published)
                _write_json(meta, {"stat": _stat_id(published)})
                _remove(failed)
            else:
                _write_json(failed, (_read_json(failed) or 0) + 1)
        _remove(part)
        _remove(writer)
    for part in glob.glob(f"{glob.escape(base)}.*.part"):
        if not os.path.exists(part[: -len(".part")] + ".writer"):
            _remove(part)

    if os.path.exists(published):
        if (_read_json(meta) or {}).get("stat") == _stat_id(published):
            return Launch(f"-XX:SharedArchiveFile={published} -Xshare:auto {_MAP_LOG}",
                          empty)
        log.warning("streamtasks_spark: start-up class archive %s changed "
                    "since it was published; deleting it", published)
        _remove(published)
        _remove(meta)
    if recording:
        return None  # another JVM is recording this key
    n_failed = _read_json(failed) or 0
    if n_failed >= _MAX_FAILED:
        log.warning("streamtasks_spark: start-up class archive off: %d recordings "
                    "left no valid archive; delete %s to retry", n_failed, failed)
        return None
    token = f"{os.getpid()}-{secrets.token_hex(4)}"
    writer = f"{base}.{token}.writer"
    # the launching process stands in for the JVM until note_jvm()
    _write_json(writer, {"pid": os.getpid(), "start": _start_time(os.getpid())})
    return Launch(f"-XX:ArchiveClassesAtExit={base}.{token}.part {_RECORD_LOG}",
                  empty, writer)


def note_jvm(launch: Launch, pid: int, classpath: str, heap: str) -> None:
    """Record the recording JVM in its writer record: a later launch
    validates the dump with this classpath and heap once ``pid`` has
    exited."""
    _write_json(launch.writer, {"pid": pid, "start": _start_time(pid),
                                "classpath": classpath, "heap": heap})


def abandon(launch: Launch) -> None:
    """A recording launch whose JVM did not start: drop its record."""
    _remove(launch.writer)
