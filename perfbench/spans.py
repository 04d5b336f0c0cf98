"""Spans, Spark status counters and resident-memory sampling.

A ``Tracer`` records one span per layer boundary the benchmark crosses
(op -> build -> action -> release); spans of one op share its id. Spans
carry counts read from Spark's status store (jobs, stages, tasks,
executor time, bytes) once their jobs have ended. Everything stays in
memory; the run writes them to its record when it ends.

``NullTracer`` is the untraced twin: its spans open no job group and
record nothing, and the runner reads no status store.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

# counts summed over the stages a span's jobs ran
STAGE_COUNTS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_records", "spill_bytes",
)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op_id: str, parent: str | None = None, group: str | None = None):
        yield {}


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.harvest_s = 0.0  # time spent reading the status store

    @contextmanager
    def span(self, name: str, op_id: str, parent: str | None = None, group: str | None = None):
        """Time a layer boundary. With ``group`` set, the span's Spark jobs
        run under that job group and their counts land in the span."""
        rec = {"name": name, "op": op_id, "parent": parent, "start": time.time()}
        if group is not None:
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec["group"] = group
            self.spans.append(rec)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids: list[int]) -> dict:
        """Status-store counts for finished jobs: their count, their
        [submit, complete] intervals (epoch s) and per-stage sums."""
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out = {k: 0 for k in STAGE_COUNTS}
        out["jobs"] = len(job_ids)
        out["intervals"] = []
        out["widest_stage"] = None
        widest = -1
        for jid in job_ids:
            job = store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["intervals"].append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                n_tasks = st.numCompleteTasks()
                out["stages"] += 1
                out["tasks"] += n_tasks
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.shuffleReadBytes() > 0 and n_tasks > widest:
                    widest = n_tasks
                    out["widest_stage"] = (sid, st.attemptId())
        out["shuffle_skew"] = self._skew(store, out.pop("widest_stage"))
        self.harvest_s += time.perf_counter() - t0
        return out

    def _skew(self, store, stage) -> float:
        """max / median task shuffle-read bytes of one stage (0 if none)."""
        if stage is None:
            return 0.0
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage[0], stage[1], qs)
        if not summary.isDefined():
            return 0.0
        read = summary.get().shuffleReadMetrics().readBytes()
        med, mx = read.apply(0), read.apply(1)
        return mx / med if med > 0 else 0.0

    def persisted_rdds(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class RssSampler:
    """Peak resident memory of the driver JVM and every process it spawns
    (the Python workers), summed as proportional set size so pages a
    forked worker shares with its parent count once. The process tree is
    re-read from /proc every second; the known processes' memory every
    ``period_s``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb

    def _run(self) -> None:
        me, pids, next_scan = os.getpid(), [], 0.0
        while not self._stop.wait(self.period_s):
            if time.monotonic() >= next_scan:
                pids, next_scan = _descendants(me), time.monotonic() + 1.0
            self.peak_mb = max(self.peak_mb, sum(_pss_kb(p) for p in pids) / 1024)


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out
