"""In-memory span tracer for the benchmark's own call sites.

Spans are recorded only around calls the benchmark makes into the engine and
around driver-side engine functions the benchmark wraps for the duration of a
traced cycle. A function is wrapped where its caller looks it up: ``compact``
imports ``ffd_pack`` by name, so the wrapper replaces ``compact.ffd_pack``,
not ``plans.ffd.ffd_pack``. Executor-side functions cannot be wrapped from
the driver; the codec and writer are timed by ``micro.py`` instead.

Each top-level span also runs its Spark jobs under its own job group, and
reads job, stage and task counts for that group from the status tracker.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self.active = False
        self.cycle = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._groups = 0

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "cycle": self.cycle,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def top(self, name: str):
        """A top-level span whose Spark jobs are counted."""
        sc = self.spark.sparkContext if self.spark is not None else None
        self._groups += 1
        group = f"{self.run_id}-{self._groups}"
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec["attrs"].update(spark_counts(sc, group))

    # -- wrapping --------------------------------------------------------
    def install(self, targets: list[tuple[object, str, str]], on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper for each
        ``(owner, attr, span_name)``. ``on_result(span_name, result, rec)``
        may add attributes computed from the result."""
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name, on_result))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str, on_result):
        @functools.wraps(fn)
        def wrapper(*args, **kw):
            with self.span(name) as rec:
                out = fn(*args, **kw)
                if on_result is not None:
                    on_result(name, out, rec)
                return out

        return wrapper

    # -- analysis --------------------------------------------------------
    def self_times(self, cycles: set[int]) -> dict[str, float]:
        """Total self time in seconds per span name over ``cycles``: a
        span's duration minus the part its direct children cover (the
        driver is single-threaded, so children never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["cycle"] in cycles and s["end"] is not None:
                own = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def top_attr_sum(self, key: str, cycles: set[int]) -> float:
        """Sum of attribute ``key`` over the top-level spans of ``cycles``."""
        return sum(
            s["attrs"].get(key, 0)
            for s in self.spans
            if s["cycle"] in cycles and s["parent"] is None
        )


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran for a job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:  # skipped stage (shuffle output reused)
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
