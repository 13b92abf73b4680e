"""Spans, Spark counters and host readings for one benchmark run.

A span records one call into a program layer, timed from outside:
name, start, end, parent span and the range of Spark job ids submitted
while it was open.  Job ids are assigned in submission order and the
benchmark is a single closed-loop client, so every job in that range
belongs to the span, including jobs submitted from the program's own
worker threads (which do not inherit a job group).

In a traced run ``fold`` reads each span's stages, tasks, executor run
time, shuffle write and spill from Spark's status store once, after
the measured region.  Everything stays in memory until the run writes
its record.
"""

from __future__ import annotations

import os
import resource
import time
from contextlib import contextmanager


class Ledger:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; the caller times its own region inside it, so
        the job-id reads here stay outside any measured interval."""
        sid = len(self.spans)
        rec = {"id": sid, "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(f"{self.run_id}:{sid}", name)
        rec["job_lo"] = self.next_job_id()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["job_hi"] = self.next_job_id()
            rec["jobs"] = rec["job_hi"] - rec["job_lo"]
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(f"{self.run_id}:{parent['id']}", parent["name"])

    def fold(self) -> None:
        """Attach stages, tasks, executor run time (ms), shuffle write
        and disk spill (bytes) from the status store to every span.  A
        stage counts for the span whose jobs first referenced it, and
        only if it ran (stages skipped because their shuffle output
        already existed cost nothing)."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        store = self._jsc.statusStore()
        gw = self._sc._gateway
        first_job: dict[int, int] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                first_job[sid] = min(first_job.get(sid, job.jobId()), job.jobId())
        done: dict[int, list[int]] = {}
        stages = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            acc = done.setdefault(s.stageId(), [0, 0, 0, 0])
            acc[0] += s.numCompleteTasks()
            acc[1] += s.executorRunTime()
            acc[2] += s.shuffleWriteBytes()
            acc[3] += s.diskBytesSpilled()
        for rec in self.spans:
            lo, hi = rec["job_lo"], rec["job_hi"]
            mine = [done[s] for s, j in first_job.items() if lo <= j < hi and s in done]
            rec["stages"] = len(mine)
            rec["tasks"] = sum(m[0] for m in mine)
            rec["run_ms"] = sum(m[1] for m in mine)
            rec["shuffle_write_bytes"] = sum(m[2] for m in mine)
            rec["spill_bytes"] = sum(m[3] for m in mine)


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


class HostNoise:
    """CPU steal share and 1-minute load average over a run; recorded
    next to the run's numbers, never used to discard a run."""

    def __init__(self):
        self._ticks = _cpu_ticks()
        self.load1_start = os.getloadavg()[0]

    def read(self) -> dict:
        total, steal = _cpu_ticks()
        d_total = total - self._ticks[0]
        return {
            "steal_share": (steal - self._ticks[1]) / d_total if d_total else 0.0,
            "load1_start": self.load1_start,
            "load1_end": os.getloadavg()[0],
        }


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _java_pid(spark) -> int | None:
    """The JVM behind the py4j gateway: the launcher process execs into
    java, or else has it as a child."""
    pid = spark.sparkContext._gateway.proc.pid
    for _ in range(4):
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return pid
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                kids = f.read().split()
        except OSError:
            return None
        if not kids:
            return None
        pid = int(kids[0])
    return None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jpid = _java_pid(spark)
    if jpid is not None:
        kb += _vm_hwm_kb(jpid)
    return kb / 1024.0
