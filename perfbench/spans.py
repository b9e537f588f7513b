"""Spans and Spark counters recorded around calls into zsolr.

A span is opened by the benchmark around one call into a zsolr module's
public function.  With tracing off a span only measures wall time.  With
tracing on it also records, from the driver's status store:

* executor totals (shuffle read/write bytes, input bytes, tasks, task
  time), as deltas across the span;
* the jobs started inside the span (job ids are sequential, so the new
  ids are probed from the last one seen), with their submit/complete
  times, which give the job-covered share of the span and hence the
  driver's own time (span wall minus the union of job intervals).

The listener bus is drained before each counter read, outside the timed
interval, so counts are exact and repeat across runs.  Spans stay in
memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
            "tasks", "task_ms")


class Tracer:
    def __init__(self, spark, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.overhead_s = 0.0        # time spent reading counters
        self._stack: list[int] = []
        self._req = 0
        self._last_job = -1
        if on:
            jsc = spark.sparkContext._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._drain()
            self._last_job = max(
                spark.sparkContext.statusTracker().getJobIdsForGroup(None),
                default=-1)

    # -- counters -----------------------------------------------------------
    def _drain(self):
        self._bus.waitUntilEmpty(60_000)

    def _totals(self) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        execs = self._store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["input_bytes"] += e.totalInputBytes()
            out["tasks"] += e.totalTasks()
            out["task_ms"] += e.totalDuration()
        return out

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Exception:   # py4j NoSuchElementException: not started
            return None

    def _max_job(self, start: int) -> int:
        jid = start
        while self._job(jid + 1) is not None:
            jid += 1
        return jid

    def _jobs_since(self, last: int) -> list[tuple[int, float, float]]:
        out = []
        jid = last + 1
        while (j := self._job(jid)) is not None:
            sub = j.submissionTime()
            done = j.completionTime()
            t0 = sub.get().getTime() / 1000 if sub.isDefined() else None
            t1 = done.get().getTime() / 1000 if done.isDefined() else None
            out.append((jid, t0, t1))
            jid += 1
        return out

    # -- spans --------------------------------------------------------------
    def request(self) -> int:
        """A new request id: spans of one benchmark op share it."""
        self._req += 1
        return self._req

    @contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        rec = {"name": name, "req": req, "parent": (self._stack[-1]
                                                    if self._stack else None),
               "id": len(self.spans), **attrs}
        self.spans.append(rec)
        if self.on:
            c0 = time.perf_counter()
            self._drain()
            before = self._totals()
            job0 = self._last_job = self._max_job(self._last_job)
            self.overhead_s += time.perf_counter() - c0
        self._stack.append(rec["id"])
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["start"], rec["end"] = t0, t0 + rec["wall_s"]
            self._stack.pop()
            if self.on:
                c0 = time.perf_counter()
                self._drain()
                after = self._totals()
                for k in COUNTERS:
                    rec[k] = after[k] - before[k]
                jobs = self._jobs_since(job0)
                if jobs:
                    self._last_job = max(self._last_job, jobs[-1][0])
                rec["jobs"] = len(jobs)
                rec["job_covered_s"] = _covered(jobs, rec["start"],
                                                rec["end"])
                rec["driver_self_s"] = max(
                    0.0, rec["wall_s"] - rec["job_covered_s"])
                self.overhead_s += time.perf_counter() - c0

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(jobs, lo: float, hi: float) -> float:
    """Length of the union of the jobs' [submit, complete] intervals,
    clipped to the span."""
    iv = sorted((max(lo, a), min(hi, b if b is not None else hi))
                for _, a, b in jobs if a is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
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
