"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files, around public calls
into the engine: module attributes and class methods are wrapped for
the duration of the traced leg and restored afterwards. A span that is
a "timed call" also sets a Spark job group on its thread, so the jobs
it launches (and their stages' shuffle, spill and task times in the
JVM status store) can be attributed to it. Jobs launched by the
WaveRunner flush thread carry no group; they are counted as table I/O.

Nothing here starts a thread or touches a file; ``dump`` returns plain
data for the run record.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    t0: float
    t1: float = 0.0
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, group: bool = False):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        s = Span(
            sid, name, stack[-1].id if stack else None,
            threading.current_thread().name, time.time(),
        )
        prev_group = None
        if group:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            s.group = f"bench-{sid}-{name}"
            self.sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, group: bool = False) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        by a spanned wrapper until ``restore``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, group=group):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- derived views ---------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it its child spans cover."""
        iv = [(c.t0, c.t1) for c in kids.get(s.id, [])]
        return s.dur - union_length(iv, s.t0, s.t1)

    def summary(self) -> dict:
        """Per span name: calls, total, self time."""
        kids = self.children()
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s.dur
            d["self_s"] += self.self_time(s, kids)
        return out

    # -- Spark status store ----------------------------------------------

    def jobs_since(self, first_job_id: int, groups: list[str]) -> list[dict]:
        """Jobs with id >= first_job_id launched under ``groups`` or with
        no group, with their stages' metrics (read from the JVM status
        store after the listener bus drains)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        ids: list[tuple[int, str | None]] = []
        for g in groups:
            ids += [(j, g) for j in tracker.getJobIdsForGroup(g) if j >= first_job_id]
        ids += [(j, None) for j in tracker.getJobIdsForGroup(None) if j >= first_job_id]
        jobs = []
        seen_stages: set[int] = set()
        for jid, g in sorted(ids):
            try:
                jd = store.job(jid)
            except Exception:  # evicted from the status store
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            stage_ids = jd.stageIds()
            stages = []
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._stage(store, sid)
                if st is not None:
                    stages.append(st)
            jobs.append({
                "job": jid,
                "group": g,
                "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "t1": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "stages": stages,
            })
        return jobs

    @staticmethod
    def _stage(store, sid: int) -> dict | None:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # skipped stage: never attempted
            return None
        if sd.numCompleteTasks() == 0:
            return None
        return {
            "stage": sid,
            "attempt": sd.attemptId(),
            "tasks": sd.numTasks(),
            "run_ms": sd.executorRunTime(),
            "shuffle_write": sd.shuffleWriteBytes(),
            "shuffle_read": sd.shuffleReadBytes(),
            "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "output_bytes": sd.outputBytes(),
        }

    def task_skew(self, stage: dict) -> float:
        """max / median task duration of one stage (1.0 for one task)."""
        if stage["tasks"] < 2:
            return 1.0
        store = self.sc._jsc.sc().statusStore()
        tasks = store.taskList(stage["stage"], stage["attempt"], stage["tasks"])
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 1.0


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [(j["t0"], j["t1"]) for j in jobs if j["t0"] is not None and j["t1"] is not None]


def stages_of(jobs: list[dict]) -> list[dict]:
    return [st for j in jobs for st in j["stages"]]
