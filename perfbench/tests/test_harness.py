"""Harness tests: deterministic inputs, prefix arithmetic, and evidence
that a timed pass recomputes its layers instead of reading a cache.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

SMALL = {
    "flagship_docs": dict(n_docs=200),
    "job_cnf": dict(n_docs=60),
    "asof_dense": dict(n_left=2000, n_right=20000, n_keys=200),
}


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, name):
    g = gen.GENERATORS[name]
    a, b, c = (str(tmp_path / x) for x in "abc")
    g(a, 3, **SMALL[name])
    g(b, 3, **SMALL[name])
    g(c, 4, **SMALL[name])
    files = _files(a)
    assert files and files == _files(b) == _files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch == files


def test_self_times_non_negative_and_sum_to_slowest_prefix():
    from perfbench.layers import self_times

    prefixes = [1.0, 3.0, 2.5, 6.0]
    own = self_times(prefixes)
    assert own == [1.0, 2.0, 0.0, 3.0]
    assert sum(own) == pytest.approx(prefixes[-1])


def test_tree_cpu_counts_children_alive_and_reaped():
    import subprocess

    from perfbench.rss import tree_cpu_s

    burn = [sys.executable, "-c",
            "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
            "import sys; sys.stdout.write('done\\n'); sys.stdout.flush(); sys.stdin.read()"]
    c0 = tree_cpu_s()
    child = subprocess.Popen(burn, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    assert child.stdout.readline() == "done\n"
    alive = tree_cpu_s() - c0
    child.communicate("")  # exits and is reaped: its time moves to our cutime
    reaped = tree_cpu_s() - c0
    assert 0.45 <= alive <= reaped < 1.5


# ------------------------------------------------------------ with Spark
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    work = str(tmp_path_factory.mktemp("spark"))
    saved = {k: os.environ.get(k) for k in ("PYTHONPATH", "SPARK_LOCAL_DIRS")}
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    s = run.start_session(work, cores=2)
    yield s
    run.stop_session(s)
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def _workload(spark, tmp_path, name):
    from perfbench.workloads import WORKLOADS

    data = str(tmp_path / "data")
    meta = gen.GENERATORS[name](data, 5, **SMALL[name])
    wl = WORKLOADS[name](spark, data, str(tmp_path), meta)
    wl.prepare()
    return wl


def test_traced_chain_self_times_sum_to_last_prefix(spark, tmp_path):
    from perfbench import run
    from perfbench.layers import chain_metrics, self_times, traced_chain
    from perfbench.status import StatusCounters, Tracer

    wl = _workload(spark, tmp_path, "job_cnf")
    status = StatusCounters(spark)
    chain = traced_chain(wl, status, Tracer(status), run.clear_caches)
    assert chain.problems == []  # includes the counter additivity check
    prefix_s = [p.span.dur for p in chain.prefixes]
    own = self_times(prefix_s)
    assert all(s >= 0 for s in own)
    # the resume prefix repeats every layer and adds a second commit
    assert prefix_s[-1] == max(prefix_s)
    assert sum(own) == pytest.approx(prefix_s[-1])
    shutil.rmtree(chain.prefix("commit").result[0])  # a run deletes its scratch first
    m = chain_metrics(wl, chain)
    assert m["checkpoint.write_amp"] > 1.0
    assert m["extract.ok_frac"] == 1.0
    offered = wl.meta["corpus"] + wl.meta["new"]
    assert m["checkpoint.resume_skip_frac"] == pytest.approx(1 - wl.meta["new"] / offered)


@pytest.mark.parametrize("name,field", [("job_cnf", "extract_task_s"),
                                        ("asof_dense", "cogroup_task_s")])
def test_every_cleared_pass_recomputes(spark, tmp_path, name, field):
    from perfbench import run
    from perfbench.status import StatusCounters

    wl = _workload(spark, tmp_path, name)
    status = StatusCounters(spark)
    recs = [run.one_pass(wl, status) for _ in range(3)]
    assert all(r.problems == [] for r in recs), [r.problems for r in recs]
    assert all(getattr(r, field) > 0 for r in recs)
    # the JVM and the Python workers are children of this process
    assert all(r.cpu_s > r.build_cpu_s > 0 for r in recs)


def test_uncleared_repeat_is_caught(spark, tmp_path, monkeypatch):
    """Without the clear, the bundle's leaked persist() serves the next
    identical plan from the cache; the pass check must flag it."""
    from perfbench import run
    from perfbench.status import StatusCounters

    wl = _workload(spark, tmp_path, "asof_dense")
    status = StatusCounters(spark)
    run.one_pass(wl, status)
    monkeypatch.setattr(run, "clear_caches", lambda s: None)
    rec = run.one_pass(wl, status)
    assert rec.persisted_rdds >= 1
    assert "no as-of cogroup task time in the pass" in rec.problems
    spark.catalog.clearCache()
