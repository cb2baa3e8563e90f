"""Measurement probes read from outside the engine.

- ``Cpu``: container CPU (cgroup ``cpuacct``), JVM process CPU and driver
  Python CPU, so a window's Python-worker CPU is the remainder.
- ``Ledger``: Spark's own AppStatusStore, read between ops. Every job and
  stage that ran since ``mark()`` is attributed to the op that ran in
  between, and each job becomes a span whose parent is the op's span.
- ``host_record``: the host facts every result carries.

Nothing here is imported by the engine; the engine is measured as is.
"""

from __future__ import annotations

import os
import platform
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def container_cpu_s() -> float:
    """CPU seconds used by every process in this container so far."""
    try:
        with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as fh:
            return int(fh.read()) / 1e9
    except FileNotFoundError:  # cgroup v2
        with open("/sys/fs/cgroup/cpu.stat") as fh:
            for line in fh:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    raise RuntimeError("no cgroup CPU accounting found")


def cpu_quota() -> float:
    """Cores the cgroup may use; 0 means no quota is set."""
    try:
        with open("/sys/fs/cgroup/cpu/cpu.cfs_quota_us") as fh:
            quota = int(fh.read())
        with open("/sys/fs/cgroup/cpu/cpu.cfs_period_us") as fh:
            period = int(fh.read())
    except FileNotFoundError:  # cgroup v2: "max 100000" or "400000 100000"
        with open("/sys/fs/cgroup/cpu.max") as fh:
            q, p = fh.read().split()
        quota, period = (-1 if q == "max" else int(q)), int(p)
    return quota / period if quota > 0 else 0.0


def proc_cpu_s(pid: int) -> float:
    """utime + stime of one process (its reaped children not included)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies have)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def host_record() -> dict:
    import pyspark
    return {
        "nproc": nproc(),
        "ram_gb": round(ram_gb(), 2),
        "cpu_quota": cpu_quota(),
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


class Cpu:
    """CPU split of one window: container, JVM, driver Python, remainder."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> tuple[float, float, float]:
        return (container_cpu_s(), proc_cpu_s(self.jvm_pid),
                time.process_time())

    @staticmethod
    def split(a, b) -> dict:
        container, jvm, driver = (y - x for x, y in zip(a, b))
        return {"cpu_s": container,
                "python_cpu_s": max(0.0, container - jvm - driver)}


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch ms."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                   if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Ledger:
    """Jobs and stages from Spark's AppStatusStore, attributed per op.

    The store is read only between ops, after the listener bus has drained,
    so an op's own timing never includes a read. Stages are listed newest
    first, so each read walks only the stages added since the last one.
    """

    def __init__(self, sc, trace_id: str):
        jsc = self._jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._new_list = sc._jvm.java.util.ArrayList
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_job = -1
        self._last_stage = -1
        self._stage_ids: set[int] = set()
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.read_s = 0.0

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def _stages(self):
        return self._store.stageList(self._new_list(), False, False,
                                     self._no_quantiles, self._new_list())

    def mark(self) -> None:
        """Everything up to now belongs to earlier ops (or to checks)."""
        t = time.perf_counter()
        self._drain()
        jobs = self._store.jobsList(self._new_list())
        if jobs.size():
            self._last_job = max(self._last_job, jobs.apply(0).jobId())
        stages = self._stages()
        if stages.size():
            self._last_stage = max(self._last_stage,
                                   stages.apply(0).stageId())
        self.read_s += time.perf_counter() - t

    def collect(self, name: str, start: float, end: float) -> dict:
        """Stats of the jobs and stages run since ``mark()``; records the
        op span [start, end] (epoch s) and one child span per job."""
        t = time.perf_counter()
        self._drain()
        jobs = []
        seq = self._store.jobsList(self._new_list())
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self._last_job:
                break
            jobs.append((j.jobId(), _opt_ms(j.submissionTime()),
                         _opt_ms(j.completionTime()), j.name()))
        stages = []
        seq = self._stages()
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= self._last_stage:
                break
            self._stage_ids.add(s.stageId())
            if str(s.status()) != "COMPLETE":
                continue  # skipped (reused shuffle output) or failed
            stages.append({
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "shuffle_records": s.shuffleWriteRecords(),
                "spill_bytes": s.diskBytesSpilled(),
                "submitted_ms": _opt_ms(s.submissionTime()),
            })
        span_id = len(self.spans)
        self.spans.append({"trace": self.trace_id, "span": span_id,
                           "parent": None, "name": name, "kind": "call",
                           "start": start, "end": end})
        intervals, job_list = [], []
        for job_id, sub, done, job_name in sorted(jobs):
            if sub is None or done is None:
                continue
            intervals.append((sub / 1e3, done / 1e3))
            job_list.append({"name": job_name, "s": (done - sub) / 1e3})
            self.spans.append({"trace": self.trace_id,
                               "span": len(self.spans), "parent": span_id,
                               "name": f"job {job_id}: {job_name}",
                               "kind": "job",
                               "start": sub / 1e3, "end": done / 1e3})
        run_ms = sum(s["run_ms"] for s in stages)
        cpu_ms = sum(s["cpu_ms"] for s in stages)
        self.read_s += time.perf_counter() - t
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "executor_run_ms": run_ms,
            "jvm_cpu_ms": cpu_ms,
            "jvm_wait_ms": max(0.0, run_ms - cpu_ms),
            "driver_s": (end - start) - _covered(intervals, start, end),
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "shuffle_records": sum(s["shuffle_records"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "stage_list": stages,
            "job_list": job_list,
        }

    def evicted(self) -> int:
        """Stages seen during the run that the store no longer holds."""
        self._drain()
        seq = self._stages()
        held = {seq.apply(i).stageId() for i in range(seq.size())}
        return len(self._stage_ids - held)

    def cached(self) -> tuple[int, float]:
        """(cached RDDs, MB they hold) still registered in the session."""
        infos = self._jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize()
                               for i in infos) / 2**20
