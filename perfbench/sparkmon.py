"""Job and stage metrics from the Spark UI REST API, and process
counters from ``/proc``.

The UI keeps a bounded number of jobs and stages (1000 by default), so
callers collect after every query, once the listener bus has drained.
"""

from __future__ import annotations

import calendar
import json
import os
import time
import urllib.request

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class SparkUI:
    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        """Wait until every posted listener event has been handled, so
        the status store behind the REST API is up to date."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip_jobs(self) -> None:
        """Make the next :meth:`new_jobs` start after the jobs so far."""
        self.drain()
        self.last_job = max((j["jobId"] for j in self.get("jobs")), default=self.last_job)

    def new_jobs(self) -> list[dict]:
        """Jobs started since the previous call, with their stages'
        metrics summed into each job.  A stage listed by several jobs
        (a reused shuffle) counts under the first; stages that never
        ran count nowhere."""
        self.drain()
        raw = [j for j in self.get("jobs") if j["jobId"] > self.last_job]
        raw.sort(key=lambda j: j["jobId"])
        if raw:
            self.last_job = raw[-1]["jobId"]
        seen: set[int] = set()
        jobs = []
        for j in raw:
            job = {
                "id": j["jobId"],
                "group": j.get("jobGroup"),
                "submitted": _epoch(j.get("submissionTime")),
                "completed": _epoch(j.get("completionTime")),
                "failed_tasks": j.get("numFailedTasks", 0),
                "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            for sid in j.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self.get(f"stages/{sid}?details=false"):
                    if st.get("status") in ("SKIPPED", "PENDING"):
                        continue
                    job["stages"] += 1
                    job["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    job["run_s"] += st.get("executorRunTime", 0) / 1e3
                    job["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    job["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    job["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    job["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    job["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            jobs.append(job)
        return jobs

    def stored_bytes(self) -> int:
        """Memory plus disk held by persisted RDDs right now."""
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("storage/rdd"))


def _epoch(stamp: str | None) -> float | None:
    """'2026-01-02T03:04:05.678GMT' -> seconds since the epoch."""
    if not stamp:
        return None
    base, _, rest = stamp.partition(".")
    millis = rest.removesuffix("GMT") or "0"
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(millis) / 1e3


def cpu_times() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``, in ticks):
    user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            f = _stat_fields(int(p))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pyworker_cpu_s() -> float:
    """CPU seconds used so far by this process tree's PySpark worker
    processes (the daemon, its live workers, and workers it reaped)."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
            continue
        f = _stat_fields(pid)
        if f is not None:
            # after the command: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK
