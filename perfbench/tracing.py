"""Request timing, spans and the join with Spark's status store.

Every request the benchmark sends goes through :class:`Recorder`.  With
tracing off it only times requests.  With tracing on it also

- keeps a span for each call into a layer (``render.build``,
  ``operators.build``, ``retention.rollup`` ...) and for each forcing
  action (``spark.action``): name, start, end, parent span, request id;
- tags the request's Spark jobs with ``setJobGroup(<request id>)`` and,
  after the request, reads those jobs and their stages from the status
  store (works with the UI disabled), so job spans and task metrics join
  to the request without any change to the program.

All spans stay in memory and are written as JSON at the end of the run.

Before each request, outside its timed window, the recorder runs
:func:`probe`, a fixed task that no program code takes part in: its
time measures the host's speed at that moment (see perfbench/NOTES.md,
"Host speed").
"""

from __future__ import annotations

import json
import statistics
import time
import traceback
from contextlib import contextmanager

# Stage metrics summed per request: (status-store getter, scale).
_STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


PROBE_N = 200_000
# The probe's time on the host the benchmark was defined on (4 vCPUs,
# CPython 3.11, quiet): times are reported at this speed.
REFERENCE_PROBE_S = 0.046


def probe() -> float:
    """Seconds for a fixed pure-Python task: integer arithmetic, then
    building and sorting a list (about 0.05 s)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(PROBE_N):
        x += i * i
    sorted([(i * 7919) % PROBE_N for i in range(PROBE_N)])
    return time.perf_counter() - t0


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Recorder:
    """Times requests; with ``traced`` also records spans and Spark jobs."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.requests = []  # {"id", "kind", "seconds", "ok", "probe_s"}
        self.probes = []  # seconds of every probe, in order
        self.spans = []
        self.jobs = {}  # request id -> [job dict]
        self._stack = []
        self._rid = None
        self._store = spark.sparkContext._jsc.sc().statusStore() if traced else None

    # -- requests ---------------------------------------------------------
    @contextmanager
    def request(self, rid: str, kind: str):
        """Time one request.  An exception in the body marks the request
        failed; its traceback goes to stderr and the run goes on."""
        rec = {"id": rid, "kind": kind, "ok": True, "probe_s": probe()}
        self.probes.append(rec["probe_s"])
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(rid, kind)
            self._rid = rid
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            with self.span("request", kind=kind):
                yield rec
        except Exception:
            rec["ok"] = False
            traceback.print_exc()
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["start"], rec["end"] = w0, w0 + rec["seconds"]
            self.requests.append(rec)
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self._rid = None
                self.jobs[rid] = self._harvest(rid)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.traced:
            yield None
            return
        sp = {"name": name, "request": self._rid, "start": time.time(),
              "parent": self._stack[-1]["sid"] if self._stack else None,
              "sid": len(self.spans), **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    # -- status store ------------------------------------------------------
    def _harvest(self, rid: str, wait_s: float = 5.0):
        """The request's jobs with their spans and summed stage metrics.
        Job end events reach the store asynchronously, so wait (bounded)
        until every job of the group has a completion time."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.time() + wait_s
        while True:
            ids = sorted(tracker.getJobIdsForGroup(rid))
            datas = [self._store.job(i) for i in ids]
            if all(d.completionTime().isDefined() for d in datas) or time.time() > deadline:
                break
            time.sleep(0.01)
        jobs, seen_stages = [], set()
        for d in datas:
            job = {
                "job": d.jobId(),
                "start": d.submissionTime().get().getTime() / 1000.0
                if d.submissionTime().isDefined() else None,
                "end": d.completionTime().get().getTime() / 1000.0
                if d.completionTime().isDefined() else None,
                "status": d.status().toString(),
            }
            sums = dict.fromkeys(_STAGE_FIELDS, 0)
            sids = d.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    sums[key] += getattr(st, getter)() * scale
            job.update(sums)
            jobs.append(job)
        return jobs

    # -- summaries ----------------------------------------------------------
    def probe_seconds(self) -> float:
        """Seconds spent in probes so far (to take out of a wall time)."""
        return sum(self.probes)

    def spans_named(self, name: str):
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"requests": self.requests, "spans": self.spans,
                       "jobs": self.jobs, **extra}, fh)


def percentile_with_tail(values, min_beyond: int = 10):
    """(value, percentile): the highest nearest-rank percentile that
    still has at least ``min_beyond`` samples above it, but never below
    the median; with fewer than ``2 * min_beyond`` samples that is the
    median itself."""
    xs = sorted(values)
    n = len(xs)
    rank = n - min_beyond  # 1-based rank with min_beyond samples above
    if rank < (n + 1) / 2:
        return statistics.median(xs), 50.0
    return xs[rank - 1], round(100.0 * rank / n, 2)


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def spark_layer(rec: Recorder) -> dict:
    """Per-request medians of the Spark runtime metrics, plus the
    fixed-cost split: seconds inside the union of job spans and the
    rest of each forcing action's wall (``gap_s``)."""
    per = {k: [] for k in ("jobs", "in_job_s", "gap_s", *_STAGE_FIELDS)}
    actions = {}
    for sp in rec.spans_named("spark.action"):
        actions.setdefault(sp["request"], []).append((sp["start"], sp["end"]))
    failed = 0
    for r in rec.requests:
        jobs = [j for j in rec.jobs.get(r["id"], []) if j["start"] and j["end"]]
        spans = [(j["start"], j["end"]) for j in jobs]
        per["jobs"].append(len(rec.jobs.get(r["id"], [])))
        per["in_job_s"].append(union_seconds(clip(spans, r["start"], r["end"])))
        gap = 0.0
        for a_s, a_e in actions.get(r["id"], []):
            gap += (a_e - a_s) - union_seconds(clip(spans, a_s, a_e))
        per["gap_s"].append(gap)
        for key in _STAGE_FIELDS:
            per[key].append(sum(j[key] for j in jobs))
        failed += sum(j["failed_tasks"] for j in jobs)
    out = {f"spark.{k}": median(v) for k, v in per.items() if k != "failed_tasks"}
    out["spark.spill_bytes"] = median(
        a + b for a, b in zip(per["memory_spill_bytes"], per["disk_spill_bytes"]))
    del out["spark.memory_spill_bytes"], out["spark.disk_spill_bytes"]
    del out["spark.input_records"], out["spark.output_bytes"]
    out["spark.failed_tasks"] = failed
    return out


def jobs_within(rec: Recorder, span) -> list:
    """The request's jobs submitted inside ``span``."""
    return [j for j in rec.jobs.get(span["request"], [])
            if j["start"] is not None and span["start"] <= j["start"] <= span["end"]]
