"""Unit tests for the benchmark's own helpers (no Spark needed except in
the ``slow`` repeatability test).

    python -m pytest perfbench/tests -q            # helpers only
    python -m pytest perfbench/tests -q -m slow    # + two traced runs per workload
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import threading
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import probe  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_percentile_matches_linear_interpolation():
    xs = list(range(1, 41))
    assert probe.percentile(xs, 50) == 20.5
    assert probe.percentile(xs, 75) == pytest.approx(30.25)
    assert probe.percentile([5.0], 75) == 5.0
    with pytest.raises(ValueError):
        probe.percentile([], 50)


@pytest.mark.parametrize("n, expect", [(40, 75), (39, 75), (37, 50), (20, 50),
                                       (19, None), (100, 90), (200, 95)])
def test_highest_percentile_keeps_ten_samples_beyond(n, expect):
    assert probe.highest_supported_percentile(n) == expect
    if expect is not None:
        xs = list(range(n))
        assert sum(x > probe.percentile(xs, expect) for x in xs) >= 10


def test_gmean():
    assert probe.gmean([1.0, 4.0]) == pytest.approx(2.0)


# ------------------------------------------------------------ spans

def _span(name, start, end, parent=-1):
    return probe.Span(name, start, end, parent, "op")


def test_self_time_subtracts_children_union():
    spans = [
        _span("bench:q", 0.0, 10.0),           # children cover 1..6 -> self 5
        _span("relational:q3", 1.0, 4.0, 0),   # child 2..3 -> self 2
        _span("session:read", 2.0, 3.0, 1),
        _span("session:read", 3.5, 6.0, 0),    # overlaps sibling -> union 1..6
    ]
    spans.append(probe.Span("session:read", 20.0, 30.0, -1, None))  # outside any op
    got = probe.self_times(spans)
    assert got["bench"] == pytest.approx(5.0)
    assert got["relational"] == pytest.approx(2.0)
    assert got["session"] == pytest.approx(1.0 + 2.5)


def test_tracer_nests_per_thread_and_wrap_records_spans():
    t = probe.Tracer()

    def work(x):
        return x + 1

    traced = t.wrap("layer:work", work)
    with t.span("bench:op"):
        assert traced(1) == 2
    done = []

    def other():
        traced(5)
        done.append(True)

    th = threading.Thread(target=other)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive() and done
    assert [s.name for s in t.spans] == ["bench:op", "layer:work", "layer:work"]
    assert t.spans[1].parent == 0
    assert t.spans[2].parent == -1  # another thread's stack is its own
    assert all(s.end >= s.start for s in t.spans)


def test_instrument_wraps_public_functions_and_rebinds_imports():
    mod = types.ModuleType("pb_fake_layer")
    exec("def pub(x):\n    return _priv(x) * 2\n"
         "def _priv(x):\n    return x + 1\n"
         "class Index:\n    def ingest(self, x):\n        return pub(x)\n",
         mod.__dict__)
    user = types.ModuleType("pb_fake_user")
    sys.modules["pb_fake_layer"], sys.modules["pb_fake_user"] = mod, user
    try:
        user.pub = mod.pub
        t = probe.Tracer()
        n = probe.instrument(t, {"fake": ["pb_fake_layer"]}, rebind_in=("pb_fake_",))
        assert n == 2
        assert user.pub(1) == 4 and mod.Index().ingest(1) == 4
        assert [s.name for s in t.spans] == ["fake:pub", "fake:Index.ingest", "fake:pub"]
        assert t.spans[2].parent == 1
    finally:
        del sys.modules["pb_fake_layer"], sys.modules["pb_fake_user"]


# ------------------------------------------------------------ job delta

class _Info:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class FakeTracker:
    """The two StatusTracker calls JobCounter uses, over a job table."""

    def __init__(self):
        self.jobs, self.stages = {}, {}

    def add_job(self, stages):
        self.jobs[len(self.jobs)] = _Info(stageIds=[s for s, _, _ in stages])
        for sid, done, failed in stages:
            self.stages[sid] = _Info(numCompletedTasks=done, numFailedTasks=failed)

    def getJobInfo(self, jid):
        return self.jobs.get(jid)

    def getStageInfo(self, sid):
        return self.stages.get(sid)


def test_job_counter_counts_only_new_jobs_and_ran_stages():
    tr = FakeTracker()
    tr.add_job([(0, 4, 0)])
    drained = []
    c = probe.JobCounter(tr, drain=lambda: drained.append(1))
    assert drained  # the constructor skips jobs that ran before it
    tr.add_job([(1, 8, 0), (2, 0, 0)])       # stage 2 skipped (reused shuffle)
    tr.add_job([(1, 8, 0), (3, 3, 1)])       # stage 1 shared with the job above
    d = c.take()
    assert (d.jobs, d.stages, d.tasks, d.tasks_failed) == (2, 2, 12, 1)
    assert c.take() == probe.JobDelta()


# ------------------------------------------------------------ RSS

def test_rss_sampler_keeps_peaks_from_one_thread():
    vals = iter([{"py_driver": 1, "jvm": 10, "py_workers": 0},
                 {"py_driver": 2, "jvm": 5, "py_workers": 7}])
    last = {"py_driver": 1, "jvm": 1, "py_workers": 1}

    def sample(_root):
        return next(vals, last)

    s = probe.RssSampler(interval=0.001, sample=sample).start()
    with pytest.raises(RuntimeError):
        s.start()
    while s.n < 3:
        threading.Event().wait(0.001)
    s.stop()
    assert s.peak_total == 14
    assert s.peak == {"py_driver": 2, "jvm": 10, "py_workers": 7}


def test_tree_rss_of_this_process():
    parts = probe.tree_rss(os.getpid())
    assert parts["py_driver"] > 0
    assert set(parts) == {"py_driver", "jvm", "py_workers"}


# ------------------------------------------------------------ CPU

def test_tree_cpu_counts_live_and_exited_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    before = probe.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn + "print(flush=True)\ninput()"],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        child.stdout.readline()  # the child has burnt its CPU and waits
        assert probe.tree_cpu_s(os.getpid()) - before >= 0.25  # live child
    finally:
        child.communicate("\n", timeout=30)
    subprocess.run([sys.executable, "-c", burn], check=True)  # reaped child
    assert probe.tree_cpu_s(os.getpid()) - before >= 0.55


# ------------------------------------------------------------ generators

def _write_all(out, seed):
    gen.write_tables(f"{out}/t", seed, sf=0.001)
    gen.write_corpus(f"{out}/t", seed, 300, 200)
    gen.write_doc_batches(f"{out}/b", seed, 4, 50)


def test_generators_are_byte_identical_per_seed(tmp_path):
    _write_all(tmp_path / "a", 11)
    _write_all(tmp_path / "b", 11)
    _write_all(tmp_path / "c", 12)
    for sub in ("t", "b"):
        names = sorted(os.listdir(tmp_path / "a" / sub))
        assert names == sorted(os.listdir(tmp_path / "b" / sub))
        _, mismatch, errors = filecmp.cmpfiles(
            tmp_path / "a" / sub, tmp_path / "b" / sub, names, shallow=False)
        assert not mismatch and not errors
    # another seed gives other data
    assert not filecmp.cmp(tmp_path / "a/t/lineitem.parquet",
                           tmp_path / "c/t/lineitem.parquet", shallow=False)


def test_doc_batches_copy_only_from_earlier_batches(tmp_path):
    import pyarrow.parquet as pq

    paths = gen.write_doc_batches(str(tmp_path), 3, 5, 40)
    seen: set[str] = set()
    n_exact = 0
    for p in paths:
        norm = [" ".join(t.split()) for t in pq.read_table(p).column("text").to_pylist()]
        n_exact += sum(t in seen for t in norm)
        assert len(set(norm)) == len(norm)  # no same-batch exact ties
        seen.update(norm)
    assert n_exact > 0
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert mtimes == sorted(mtimes)


# ------------------------------------------------------------ repeatability

COUNTS = ("jobs", "stages", "tasks", "calls_per_batch", "jobs_per_batch",
          "tasks_per_batch", "segments", "read_parquet_calls")


def _traced(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "15", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["query_mix", "twin_ingest"])
def test_traced_counts_repeat_exactly(workload):
    a, b = _traced(workload, 5), _traced(workload, 5)
    assert a["correct"] and b["correct"]
    diff = {n: (a["metrics"][n]["value"], b["metrics"][n]["value"])
            for n in a["metrics"] if n.endswith(COUNTS)
            and a["metrics"][n]["value"] != b["metrics"][n]["value"]}
    assert not diff, f"counts that differ between two runs of one seed: {diff}"
