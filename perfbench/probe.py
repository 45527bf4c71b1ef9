"""Measurement plumbing: spans, Spark status-store counters, peak RSS.

Spans are kept in memory and written out once, when the run ends. A
span's counters come from Spark's in-process status store (it is kept
even with the UI disabled). Jobs are attributed to a span by job id:
every job submitted while the span was open belongs to it, because the
benchmark is the only client of its session. The span also sets a job
group, which labels the jobs launched from the calling thread; jobs the
engine launches from its own driver threads do not inherit the group,
so the group alone would undercount them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
}


class SparkCounters:
    """Reads per-job and per-stage counters for a range of job ids."""

    def __init__(self, spark):
        self.cores = spark.sparkContext.defaultParallelism
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def read(self, first: int, end: int, t0: float, t1: float) -> dict:
        """Counters of jobs [first, end) over the wall interval [t0, t1]
        (epoch seconds)."""
        self._bus.waitUntilEmpty(30_000)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(jobs=end - first, stages=0, tasks=0, failed_tasks=0)
        spans, seen = [], set()
        for jid in range(first, end):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # a skipped stage of an earlier job the store has
                    # already dropped: it ran nothing in this job
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                for key, (attr, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(st, attr)() * scale
        out["spill_bytes"] += out.pop("disk_spill_bytes")
        wall = max(t1 - t0, 1e-9)
        out["wall_s"] = wall
        out["nojob_s"] = max(wall - _covered(spans, t0, t1), 0.0)
        out["busy_frac"] = out["executor_run_s"] / (wall * self.cores)
        return out


def _covered(intervals, lo, hi) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder. While ``enabled`` is False, ``span`` only times
    the call, so untraced passes pay no tracing cost."""

    def __init__(self, spark, label: str = ""):
        self.enabled = False
        self.label = label
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = -1
        self._spark = spark
        self.counters = SparkCounters(spark) if spark is not None else None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "pass": self.pass_id}
        if self.enabled:
            rec["parent"] = self._stack[-1] if self._stack else None
            self._stack.append(len(self.spans))
            self.spans.append(rec)
            self._set_group(name)
            first = self.counters.next_job_id()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.enabled:
                self._stack.pop()
                self._set_group(self.spans[self._stack[-1]]["name"] if self._stack else None)
                rec["spark"] = self.counters.read(
                    first, self.counters.next_job_id(), rec["start"], rec["end"]
                )

    def _set_group(self, name: str | None) -> None:
        sc = self._spark.sparkContext
        if name is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"{self.label}/{name}", name)

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by direct child spans."""
        rec = self.spans[idx]
        kids = [(s["start"], s["end"]) for s in self.spans if s.get("parent") == idx]
        return rec["dur"] - _covered(kids, rec["start"], rec["end"])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s, "self": self.self_time(i)}) + "\n")


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this process plus the JVM, in MB, from /proc."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def seconds_since_process_start() -> float:
    """Wall time since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start
