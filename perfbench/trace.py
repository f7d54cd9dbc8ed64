"""Spans around layer calls, with Spark status-store counters per span.

A span records name, start, end, parent and trace id. In a traced run each
span also tags the Spark jobs it submits with its own job group, so the
jobs, stages, tasks, CPU and bytes of the status store can be attributed to
it afterwards. Counters are harvested once, at the end of the run, after
the listener bus has drained, so a span never sees half-reported stages.

With tracing off every call is a no-op context manager: the untraced run
pays nothing for the instrumentation it does not use.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from py4j.protocol import Py4JError

from perfbench.stats import Span, self_times, union_length

GROUP_KEY = "spark.jobGroup.id"
STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "input_bytes", "input_records",
                "output_records", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.groups: dict[int, str] = {}

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_trace(self) -> int:
        return next(self._traces)

    @contextlib.contextmanager
    def span(self, name: str, trace: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(id=next(self._ids), name=name, start=time.perf_counter(),
                  parent=parent.id if parent else None,
                  trace=trace if trace is not None
                  else (parent.trace if parent else 0))
        with self._lock:
            self.spans.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = sc.getLocalProperty(GROUP_KEY) if sc is not None else None
        if sc is not None:
            group = f"perfbench-{sp.id}"
            self.groups[sp.id] = group
            sc.setLocalProperty(GROUP_KEY, group)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev)

    # -- read-back ----------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name(name))

    def counter(self, name: str, key: str) -> float:
        return sum(s.counters.get(key, 0) for s in self.by_name(name))

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def inclusive(self, name: str, key: str) -> float:
        """Counter ``key`` summed over spans named ``name`` and everything
        nested in them (a nested span tags its jobs with its own group)."""
        return sum(s.counters.get(key, 0) for top in self.by_name(name)
                   for s in self.subtree(top))

    def harvest(self) -> None:
        """Attach Spark counters to every span from the status store."""
        if not self.enabled or self.spark is None:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # private in Scala; fall back to a short wait
            time.sleep(1.0)
        store = SparkCounters(self.spark)
        for sp in self.spans:
            group = self.groups.get(sp.id)
            if group is not None:
                jobs = list(store.tracker.getJobIdsForGroup(group))
                sp.counters.update(store.for_jobs(jobs))
                sp.counters["job_ids"] = jobs

    def dump(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{"id": s.id, "name": s.name, "start": s.start,
                        "end": s.end, "parent": s.parent, "trace": s.trace,
                        "self_s": own[s.id], "counters": s.counters}
                       for s in self.spans], f)


class SparkCounters:
    """Reads jobs and stages out of the Spark status store through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self.store.lastStageAttempt(sid)
        except Py4JError:  # evicted from the store or never started
            return None
        if sd.status().toString() == "SKIPPED":
            return None
        return {"tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "input_bytes": sd.inputBytes(),
                "input_records": sd.inputRecords(),
                "output_records": sd.outputRecords(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "peak_exec_memory_bytes": sd.peakExecutionMemory()}

    def _interval(self, jid: int) -> tuple[float, float] | None:
        try:
            jd = self.store.job(jid)
        except Py4JError:  # evicted from the store
            return None
        sub, done = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            return None
        return sub.get().getTime() / 1e3, done.get().getTime() / 1e3

    def for_jobs(self, job_ids) -> dict:
        out = {k: 0 for k in STAGE_FIELDS}
        out.update(jobs=0, stages=0, peak_exec_memory_bytes=0, job_s=0.0)
        seen, intervals = set(), []
        for jid in job_ids:
            out["jobs"] += 1
            iv = self._interval(jid)
            if iv is not None:
                intervals.append(iv)
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._stage(sid)
                if st is None:
                    continue
                out["stages"] += 1
                for k in STAGE_FIELDS:
                    out[k] += st[k]
                out["peak_exec_memory_bytes"] = max(
                    out["peak_exec_memory_bytes"],
                    st["peak_exec_memory_bytes"])
        out["job_s"] = union_length(intervals)
        return out

    def sql_executions(self, spark, job_ids, needle: str) -> int:
        """SQL executions whose jobs are all among ``job_ids`` and whose
        physical plan mentions ``needle``."""
        wanted, n = set(job_ids), 0
        execs = spark._jsparkSession.sharedState().statusStore(
        ).executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            it, jobs = ex.jobs().keysIterator(), set()
            while it.hasNext():
                jobs.add(it.next())
            if jobs and jobs <= wanted and needle in (
                    ex.physicalPlanDescription() or ""):
                n += 1
        return n

    def all_jobs(self) -> list[int]:
        """Every job id the store still holds."""
        jobs = self.store.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def storage_bytes(self) -> int:
        """Bytes of cached/checkpointed blocks held by the executors."""
        ex = self.store.executorList(True)
        return sum(ex.apply(i).memoryUsed() + ex.apply(i).diskUsed()
                   for i in range(ex.size()))
