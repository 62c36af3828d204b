"""The driver JVM's start-up class archive (streamtasks_spark.cds).

Most tests drive a bare ``java -version`` with the options ``prepare``
returns, on the Spark launcher jar's classpath: that records a small
real archive in well under a second, with no Spark session. One test
starts two Spark sessions in subprocesses to show that the options
reach the driver JVM and that its second launch maps Spark's classes.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import subprocess
import sys

import pytest

from streamtasks_spark import cds

HEAP = "256m"
JAVA = cds.java_binary()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(JAVA is None, reason="no java binary")


@pytest.fixture
def root(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv(cds.ENV, str(tmp_path / "cds"))
    return tmp_path / "cds"


def _launcher_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))[0]


def _java(launch, *extra, heap=HEAP):
    """Run ``java -version`` under ``launch``'s options; returns
    (pid, stdout, stderr) of the exited JVM."""
    p = subprocess.Popen([JAVA, *launch.java_options.split(), *extra, f"-Xmx{heap}",
                          "-cp", _launcher_jar(), "-version"],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = p.communicate(timeout=120)
    assert p.returncode == 0, err
    return p.pid, out, err


def _record(heap_noted=HEAP):
    """One recording launch that ran to exit; returns (launch, part)."""
    launch = cds.prepare(HEAP)
    assert launch is not None and launch.writer
    assert "-XX:ArchiveClassesAtExit=" in launch.java_options
    pid, out, _ = _java(launch)
    assert out == ""  # bench.py and perfbench parse the last stdout line
    cds.note_jvm(launch, pid, _launcher_jar(), heap_noted)
    part = launch.writer[: -len(".writer")] + ".part"
    assert os.path.getsize(part) > 0
    return launch, part


def _published(root):
    return glob.glob(str(root / "*.jsa"))


def test_recording_is_published_after_validation_and_mapped(root):
    _, part = _record()
    launch = cds.prepare(HEAP)
    (archive,) = _published(root)
    assert f"-XX:SharedArchiveFile={archive} -Xshare:auto" in launch.java_options
    assert launch.writer is None
    assert not glob.glob(str(root / "*.part")) and not glob.glob(str(root / "*.writer"))
    # the later -Xshare:on wins: the JVM fails unless it maps the archive
    _, out, _ = _java(launch, "-Xshare:on")
    assert out == ""


@pytest.mark.parametrize("damage", ["truncated", "foreign", "garbage"])
def test_truncated_or_foreign_recording_never_mapped(root, damage):
    _, part = _record(heap_noted="40g" if damage == "foreign" else HEAP)
    os.chmod(part, 0o644)
    if damage == "truncated":
        os.truncate(part, os.path.getsize(part) // 2)
    elif damage == "garbage":
        with open(part, "wb") as f:
            f.write(os.urandom(4096))
    # "foreign": recorded with compressed oops, noted for a 40g heap
    launch = cds.prepare(HEAP)
    assert "SharedArchiveFile" not in launch.java_options
    assert "-XX:ArchiveClassesAtExit=" in launch.java_options  # records anew
    assert not _published(root) and not os.path.exists(part)


def test_changed_published_archive_is_deleted(root, caplog):
    _record()
    cds.prepare(HEAP)
    (archive,) = _published(root)
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) - 4096)
    with caplog.at_level(logging.WARNING, logger=cds.__name__):
        launch = cds.prepare(HEAP)
    assert "SharedArchiveFile" not in launch.java_options
    assert not _published(root)
    assert [r.getMessage() for r in caplog.records if "changed since" in r.getMessage()]


def test_live_recording_blocks_another(root):
    first = cds.prepare(HEAP)
    assert first.writer  # stands for this (live) process until note_jvm
    assert cds.prepare(HEAP) is None


def test_failed_recordings_stop_recording(root, caplog):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    for _ in range(3):  # JVMs that exited without leaving a dump
        launch = cds.prepare(HEAP)
        cds.note_jvm(launch, dead.pid, _launcher_jar(), HEAP)
    with caplog.at_level(logging.WARNING, logger=cds.__name__):
        assert cds.prepare(HEAP) is None
    assert any("3 recordings left no valid archive" in r.getMessage()
               for r in caplog.records)


def test_empty_env_value_turns_archive_off(root, monkeypatch):
    monkeypatch.setenv(cds.ENV, "")
    assert cds.cache_dir() is None
    assert cds.prepare(HEAP) is None
    assert not root.exists()


def test_conf_dir_with_real_file_skips_with_one_log_line(root, tmp_path, caplog):
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    with caplog.at_level(logging.INFO, logger=cds.__name__):
        assert cds.prepare(HEAP) is None
    (rec,) = caplog.records
    assert "spark-defaults.conf" in rec.getMessage()
    assert not root.exists()


def test_archive_key_separates_heap_settings():
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    k4, k48 = cds.archive_key(JAVA, jars, "4g"), cds.archive_key(JAVA, jars, "48g")
    assert k4 != k48
    assert k4 == cds.archive_key(JAVA, jars, "4g")


_SESSION = r"""
import json, os, sys
from streamtasks_spark.session import get_spark
spark = get_spark("cds_e2e", shuffle_partitions=1, extra_conf={
    "spark.driver.memory": "1g",
    "spark.driver.extraJavaOptions": "-Xlog:class+load:file=" + sys.argv[1]})
spark.range(10).count()
print(json.dumps({"conf_dir": os.environ.get("SPARK_CONF_DIR")}), flush=True)
# stop as perfbench does: the JVM exits (and dumps) once stdin closes
gw = spark.sparkContext._gateway
spark.stop()
gw.shutdown()
gw.proc.stdin.close()
gw.proc.wait(timeout=300)
"""


def test_get_spark_second_launch_maps_spark_classes(root, tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", PYTHONPATH=REPO,
               SPARK_LOCAL_DIRS=str(tmp_path))
    loaded = []
    for i in range(2):
        log = tmp_path / f"class-load-{i}.txt"
        # returns after the JVM exited, i.e. after its dump
        p = subprocess.run([sys.executable, "-c", _SESSION, str(log)], env=env,
                           capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        # the recording JVM's exit prints nothing after the JSON line
        last = json.loads(p.stdout.strip().splitlines()[-1])
        assert last["conf_dir"] == str(tmp_path / "conf")  # restored
        loaded.append(log.read_text())  # the caller's option survived
    top = "source: shared objects file (top)"
    assert top not in loaded[0]
    assert len(_published(root)) == 1
    spark_from_top = [ln for ln in loaded[1].splitlines()
                      if top in ln and " org.apache.spark." in ln]
    assert len(spark_from_top) > 1000
