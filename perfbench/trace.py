"""Tracing for the traced run: spans recorded from the benchmark's own files
and Spark stage metrics read per job group.

- ``Tracer.span`` records (name, start, end, parent) around calls into the
  engine. Spans stay in memory and ``dump`` writes them when the run ends.
- ``Tracer.wrap`` replaces a public function on the module the engine looks
  it up through (``checkpoint.write_snapshot`` and friends), so calls made
  inside ``run_crawl`` get a span without touching the engine.
- ``Tracer.group`` opens a Spark job group (one per crawl wave, opened from
  ``run_crawl``'s ``on_wave`` callback); ``group_stats`` reads the group's
  jobs and stages from the status store. The store is filled by the event
  listener, so it works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._gateway.jvm
        self._gw = self.sc._gateway
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere, under the current open span."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": start, "end": end, **attrs})

    def wrap(self, module, attr: str, name: str | None = None,
             materialize: bool = False, count: bool = False) -> None:
        """Time every call of ``module.attr``. ``materialize`` forces a
        returned DataFrame inside the span (for lazy public functions whose
        cost would otherwise land on the next action); ``count`` also
        records its row count on the span."""
        orig = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        def timed(*args, **kwargs):
            with self.span(label) as rec:
                out = orig(*args, **kwargs)
                if materialize:
                    out = out.localCheckpoint(eager=True)
                if count:
                    rec["rows"] = out.count()
                return out

        self.patch(module, attr, timed)

    def patch(self, module, attr: str, fn) -> None:
        """Replace ``module.attr`` with ``fn`` until ``unwrap_all``."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def total(self, name: str, since: float = 0.0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and s["start"] >= since)

    def counts(self, name: str, since: float = 0.0) -> int:
        """Rows recorded by ``wrap(..., count=True)`` spans of ``name``."""
        return sum(s.get("rows", 0) for s in self.spans
                   if s["name"] == name and s["start"] >= since)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- Spark job groups and the status store -----------------------------
    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def group_stats(self, gid: str) -> dict:
        """Jobs, tasks, shuffle/spill bytes, executor run time, failed tasks,
        the worst stage's max/median task time, and the jobs' [submission,
        completion] intervals in epoch seconds."""
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(gid))
        intervals = []
        stage_ids: set[int] = set()
        for j in job_ids:
            jd = self._store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  comp.get().getTime() / 1000.0))
            seq = jd.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        out = {"jobs": len(job_ids), "tasks": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "run_ms": 0, "failed_tasks": 0, "skew": 1.0}
        qs = self._gw.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        empty = self._jvm.java.util.ArrayList()
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, empty, False, qs)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["run_ms"] += sd.executorRunTime()
                if sd.numTasks() >= 2:
                    summ = self._store.taskSummary(sid, sd.attemptId(), qs)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            out["skew"] = max(out["skew"], mx / med)
        out["intervals"] = intervals
        return out


def merge(stats: list[dict]) -> dict:
    """Sum of several ``group_stats`` results (worst skew, all intervals)."""
    out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
           "run_ms": 0, "failed_tasks": 0, "skew": 1.0, "intervals": []}
    for st in stats:
        for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "run_ms",
                  "failed_tasks"):
            out[k] += st[k]
        out["skew"] = max(out["skew"], st["skew"])
        out["intervals"] += st["intervals"]
    return out


def gap_s(stats: dict, lo: float, hi: float) -> float:
    """Time in [lo, hi] (epoch seconds) that no job covered: driver-side
    planning, Python and file-system work between Spark jobs."""
    return max(0.0, (hi - lo) - covered(stats["intervals"], lo, hi))


def failed_tasks(spark) -> int:
    """Failed task attempts over every stage the session has run."""
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    stages = store.stageList(gw.jvm.java.util.ArrayList(), False, False,
                             gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.ArrayList())
    return sum(stages.apply(i).numFailedTasks() for i in range(stages.size()))


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
