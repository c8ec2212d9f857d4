"""Measurement plumbing shared by the workloads: span tracing, op
accounting (attempts, failures by exception class, wrong answers) and
Spark job/task accounting through ``SparkContext.statusTracker()``.

Nothing here imports the engine, so it can be tested without Spark.
"""

from __future__ import annotations

import contextlib
import json
import math
import sys
import time
import traceback
from collections import Counter, defaultdict


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


class Tracer:
    """In-memory spans: (name, start, end, parent, request id).

    Disabled, ``span`` only yields, so untraced runs pay one generator
    per op. Spans are written once, by :meth:`write`, at exit.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._requests = 0

    def new_request(self) -> int:
        self._requests += 1
        return self._requests

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent][4]
        rec = [name, time.perf_counter(), None, parent, request]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds). A span's self
        time is its duration minus the part its children cover."""
        child_cover = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child_cover[parent] += end - start
        out: dict[str, list] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is None:
                continue
            rec = out.setdefault(name, [0, 0.0, 0.0])
            rec[0] += 1
            rec[1] += end - start
            rec[2] += max(0.0, end - start - child_cover[i])
        return {k: tuple(v) for k, v in out.items()}

    def write(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            for i, (name, start, end, parent, req) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": name,
                            "start_s": start - t0,
                            "end_s": None if end is None else end - t0,
                            "parent": parent,
                            "request": req,
                        }
                    )
                    + "\n"
                )


class SparkWork:
    """Jobs and tasks started between two points, read from the status
    tracker. Ops run one at a time from one client thread, so every job
    whose id lies between the newest id before and after an op belongs
    to it, including jobs the engine submits from its own threads."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._groups = 0

    def newest_job_id(self) -> int:
        st = self.tracker
        ids = list(st.getJobIdsForGroup(None)) + list(st.getActiveJobsIds())
        for g in range(max(1, self._groups - 1), self._groups + 1):
            ids += list(st.getJobIdsForGroup(f"perfbench-{g}"))
        return max(ids, default=-1)

    def set_group(self, kind: str) -> None:
        self._groups += 1
        self.sc.setJobGroup(f"perfbench-{self._groups}", kind)

    def tasks_of(self, first: int, last: int) -> int:
        n = 0
        for jid in range(first, last + 1):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = self.tracker.getStageInfo(sid)
                if si is not None:
                    n += si.numCompletedTasks
        return n


class Ops:
    """Runs timed ops: counts attempts, records failures by op kind and
    exception class and keeps the run going, and keeps per-kind wall
    times of the ops that succeeded.

    An op run with a ``key`` is one repeat of that op: :meth:`best`
    gives each key's fastest repeat."""

    FAILED = object()

    def __init__(self, tracer: Tracer, spark_work: SparkWork | None = None):
        self.tracer = tracer
        self.spark_work = spark_work
        self.attempts: Counter = Counter()
        self.failures: Counter = Counter()
        self.seconds: dict[str, list[float]] = defaultdict(list)
        self.repeats: dict[str, dict] = defaultdict(lambda: defaultdict(list))
        # per-kind (jobs, tasks) of each op, traced runs only
        self.jobs: dict[str, list[tuple[int, int]]] = defaultdict(list)

    def run(self, kind: str, fn, *args, spark: bool = False, key=None,
            **kwargs):
        """Time ``fn(*args, **kwargs)`` as one op of ``kind`` (a repeat
        of op ``key``, if given). Returns its result, or :attr:`FAILED`
        when it raised."""
        self.attempts[kind] += 1
        count_jobs = spark and self.tracer.enabled and self.spark_work
        if spark and self.spark_work is not None:
            self.spark_work.set_group(kind)
        before = self.spark_work.newest_job_id() if count_jobs else 0
        with self.tracer.span(kind, self.tracer.new_request()):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:  # a failed op must not end the run
                self.failures[(kind, type(exc).__name__)] += 1
                print(f"[perfbench] {kind} failed:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                return self.FAILED
            dt = time.perf_counter() - t0
        self.seconds[kind].append(dt)
        if key is not None:
            self.repeats[kind][key].append(dt)
        if count_jobs:
            after = self.spark_work.newest_job_id()
            self.jobs[kind].append(
                (after - before, self.spark_work.tasks_of(before + 1, after))
            )
        return out

    def best(self, kind: str) -> list[float]:
        """Each keyed op's fastest repeat; unkeyed ops count as they
        ran."""
        reps = self.repeats.get(kind)
        if reps:
            return [min(v) for v in reps.values()]
        return list(self.seconds[kind])

    def wrong(self, kind: str, what: str = "WrongAnswer") -> None:
        """Record a correctness-check failure against an op already
        attempted."""
        self.failures[(kind, what)] += 1
        print(f"[perfbench] {kind}: {what}", file=sys.stderr)

    @property
    def attempted(self) -> int:
        return sum(self.attempts.values())

    @property
    def failed(self) -> int:
        return sum(self.failures.values())

    def failure_table(self) -> dict[str, int]:
        return {f"{k}:{e}": n for (k, e), n in sorted(self.failures.items())}
