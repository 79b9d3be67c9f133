"""Job graph runner for the index build.

A job is declared once, with its dependencies and its FAIR pool, and
starts on its own thread once every dependency has finished; it is
called with their results, in order. It runs with Spark job description
``build:<name>``, pool ``build-chain`` (the serial critical chain) or
``build-aux`` (side jobs that back-fill idle slots), and the build's job
group. These thread-local properties are restored when the job ends.

The first failure cancels the group's running and future Spark jobs,
and no job starts after it; ``join()`` raises it once every started job
has ended.

A graph can be joined more than once. build_index joins every job that
writes a table, writes the manifest, then declares and joins the one
job that reads the finished index (sq_topk, the stored short-query
answers); the step times of both joins land in the manifest.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor, wait

_LOCAL_PROPERTIES = ("spark.job.description", "spark.scheduler.pool", "spark.jobGroup.id")


@contextlib.contextmanager
def _local_properties(sc, values):
    """Set the thread-local Spark properties for a block; restore the
    previous values after it (unset ones unset), error included."""
    saved = [(k, sc.getLocalProperty(k)) for k in _LOCAL_PROPERTIES]
    try:
        for k, v in zip(_LOCAL_PROPERTIES, values):
            sc.setLocalProperty(k, v)
        yield
    finally:
        for k, v in saved:
            sc.setLocalProperty(k, v)


class JobGraph:
    def __init__(self, sc):
        self._sc = sc
        self._group = f"build-{uuid.uuid4().hex}"
        self._t0 = time.monotonic()
        self._lock = threading.Lock()
        self._declared: list[tuple] = []
        self._error: BaseException | None = None
        self._walls: dict[str, float] = {}
        self._starts: dict[str, float] = {}

    def add(self, name: str, fn, deps=(), chain: bool = False) -> Future:
        """Declare a job. The returned future is its handle: pass it in
        another job's deps, or read its result after join()."""
        fut: Future = Future()
        self._declared.append(
            (name, fn, tuple(deps), "build-chain" if chain else "build-aux", fut)
        )
        return fut

    def join(self) -> tuple[dict[str, float], dict[str, float]]:
        """Run the jobs declared since the last join; wait for all of
        them. Returns ({name: wall_s}, {name: start_s from the graph's
        creation}); a repeated name sums its walls, keeps its first
        start."""
        jobs, self._declared = self._declared, []
        # a thread per job at most, so a ready job never queues
        with ThreadPoolExecutor(max_workers=max(1, len(jobs))) as pool:
            for job in jobs:
                self._start_when_ready(pool, job)
            wait([job[-1] for job in jobs])
        if self._error is not None:
            raise self._error
        return (
            {k: round(v, 2) for k, v in self._walls.items()},
            {k: round(v, 2) for k, v in self._starts.items()},
        )

    def _start_when_ready(self, pool, job) -> None:
        left = [len(job[2])]

        def dep_done(_dep) -> None:
            with self._lock:
                left[0] -= 1
                if left[0]:
                    return
            pool.submit(self._run, *job)

        if not left[0]:
            pool.submit(self._run, *job)
        for dep in job[2]:
            dep.add_done_callback(dep_done)

    def _run(self, name, fn, deps, fair_pool, fut: Future) -> None:
        if self._error is not None:  # set before any failed future completes
            fut.cancel()
            fut.set_running_or_notify_cancel()  # wakes wait(), cascades
            return
        fut.set_running_or_notify_cancel()
        start = time.monotonic()
        error = None
        try:
            with _local_properties(self._sc, (f"build:{name}", fair_pool, self._group)):
                value = fn(*[d.result() for d in deps])
        except BaseException as e:  # raised again by join()
            error = e
        with self._lock:
            self._walls[name] = self._walls.get(name, 0.0) + time.monotonic() - start
            self._starts.setdefault(name, start - self._t0)
            first = error is not None and self._error is None
            if first:
                self._error = error
        try:
            if first:
                self._sc._jsc.sc().cancelJobGroupAndFutureJobs(self._group)
        finally:  # join() cannot return before the cancel
            if error is None:
                fut.set_result(value)
            else:
                fut.set_exception(error)
