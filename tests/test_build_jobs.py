"""JobGraph, the build's job runner, against a stub SparkContext: no
Spark, well under a second."""

import random
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from infidex_spark.build.jobs import JobGraph


class _StubSC:
    """Thread-local properties like SparkContext's; records cancels."""

    def __init__(self):
        self._local = threading.local()
        self.cancelled: list[str] = []
        self._jsc = SimpleNamespace(sc=lambda: self)

    def _props(self) -> dict:
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value

    def cancelJobGroupAndFutureJobs(self, group):
        self.cancelled.append(group)


def _props(sc):
    return tuple(
        sc.getLocalProperty(k)
        for k in ("spark.job.description", "spark.scheduler.pool", "spark.jobGroup.id")
    )


def test_job_starts_after_its_deps_with_their_results_in_order():
    g = JobGraph(_StubSC())
    ended = {}

    def slow(name, value, secs):
        def run():
            time.sleep(secs)
            ended[name] = time.monotonic()
            return value

        return run

    a = g.add("a", slow("a", 1, 0.05))
    b = g.add("b", slow("b", 2, 0.01))
    seen = []
    c = g.add("c", lambda x, y: seen.append((time.monotonic(), x, y)) or x + y, (b, a))
    g.join()
    (t_c, x, y), = seen
    assert (x, y) == (2, 1)
    assert t_c >= max(ended.values())
    assert c.result() == 3


def test_each_job_runs_with_its_description_pool_and_the_build_group():
    sc = _StubSC()
    g = JobGraph(sc)
    a = g.add("tokenize", lambda: _props(sc), chain=True)
    b = g.add("prefixes", lambda _: _props(sc), (a,))
    g.join()
    desc_a, pool_a, group_a = a.result()
    desc_b, pool_b, group_b = b.result()
    assert (desc_a, pool_a) == ("build:tokenize", "build-chain")
    assert (desc_b, pool_b) == ("build:prefixes", "build-aux")
    assert group_a == group_b and group_a.startswith("build-")
    assert _props(sc) == (None, None, None)  # the caller's thread is untouched
    assert sc.cancelled == []


def test_ready_jobs_never_queue_behind_each_other():
    n = 12
    barrier = threading.Barrier(n, timeout=2)
    g = JobGraph(_StubSC())
    for i in range(n):
        g.add(f"j{i}", barrier.wait, chain=i % 2 == 0)
    g.join()  # a queued job would leave the barrier broken


def test_first_failure_cancels_once_skips_dependants_and_waits_for_started():
    sc = _StubSC()
    g = JobGraph(sc)
    ran = []
    started = threading.Barrier(2, timeout=2)

    def slow():
        started.wait()
        time.sleep(0.2)
        ran.append("slow")

    def bad():
        started.wait()
        raise ValueError("first")

    def worse_later():
        time.sleep(0.05)
        raise RuntimeError("second")

    s = g.add("slow", slow)
    b = g.add("bad", bad)
    g.add("after_bad", lambda _: ran.append("after_bad"), (b,))
    g.add("after_slow", lambda _: ran.append("after_slow"), (s,))
    g.add("both", lambda *_: ran.append("both"), (s, b))
    with pytest.raises(ValueError, match="first"):
        g.join()
    assert ran == ["slow"]  # the started job ended before join() raised
    assert len(sc.cancelled) == 1 and sc.cancelled[0].startswith("build-")

    # two failing jobs: the first failure is raised, the group is
    # cancelled once
    sc2 = _StubSC()
    g2 = JobGraph(sc2)
    g2.add("f1", lambda: {}["k"])
    g2.add("f2", worse_later)
    with pytest.raises(KeyError):
        g2.join()
    assert len(sc2.cancelled) == 1


def test_repeated_name_sums_walls_and_keeps_first_start():
    g = JobGraph(_StubSC())
    p1 = g.add("postings", lambda: time.sleep(0.05))
    g.add("postings", lambda _: time.sleep(0.05), (p1,))
    g.add("other", lambda: None)
    walls, starts = g.join()
    assert set(walls) == set(starts) == {"postings", "other"}
    assert 0.09 <= walls["postings"] < 0.5
    assert starts["postings"] <= 0.05


def test_random_graphs_run_every_job_once_after_its_deps():
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        rng = random.Random(7)
        for _ in range(5):
            g = JobGraph(_StubSC())
            done: set[int] = set()
            lock = threading.Lock()
            runs = []
            futs = []
            for i in range(40):
                deps = rng.sample(range(i), min(i, rng.randint(0, 3)))

                def job(*_, i=i, deps=deps):
                    with lock:
                        assert all(d in done for d in deps)
                        runs.append(i)
                        done.add(i)
                    return i

                futs.append(g.add(f"j{i % 5}", job, [futs[d] for d in deps]))
            t0 = time.monotonic()
            walls, _ = g.join()
            assert time.monotonic() - t0 < 5
            assert sorted(runs) == list(range(40))
            assert [f.result() for f in futs] == list(range(40))
            assert set(walls) == {f"j{k}" for k in range(5)}
    finally:
        sys.setswitchinterval(old)
