"""What Spark did under a call, read from the driver's status store.

``jobs_since`` returns the jobs whose ids were not yet seen, each with
its submission and completion time and the summed metrics of the stages
it ran. Jobs are found from the status store's job list whatever job
group they carry: ``StatusTracker.getJobIdsForGroup(None)`` would list
only jobs with no group, and streaming micro-batches run under their
query's group. Listener events reach the store asynchronously, so every
read first drains the listener bus.

The JVM objects are serialized to JSON with Spark's own Jackson (one
round trip per object instead of one per field).
"""

from __future__ import annotations

import json
import os
import resource

from py4j.protocol import Py4JJavaError

STAGE_SUMS = (
    "executorRunTime",
    "executorCpuTime",
    "diskBytesSpilled",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "numCompleteTasks",
    "numFailedTasks",
)


class StatusReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = mapper.registerModule(scala_module)
        # ids below _next were returned or are in _missing
        self._next = self._newest_id() + 1
        self._missing: set[int] = set()

    def _newest_id(self) -> int:
        """Highest job id in the store (its job list is newest first),
        or -1. The scheduler numbers jobs 0, 1, 2, ... as it accepts
        them, so every id up to this one was handed out."""
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _job(self, jid: int) -> dict | None:
        """The job's JSON, or None if the store has no such job: its
        events are not posted yet (a job submitted from another thread),
        or never will be (a job whose submission failed)."""
        try:
            return self._json(self._store.job(jid))
        except Py4JJavaError:
            return None

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every posted listener event reached the store."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs_since(self) -> list[dict]:
        """Jobs not returned before, oldest first. Each dict has
        ``id``, ``start`` and ``end`` (epoch seconds; ``end`` is None
        while running), ``stages`` (stages that ran) and the summed
        ``STAGE_SUMS`` of those stages."""
        self.drain()
        newest = self._newest_id()
        ids = sorted(self._missing) + list(range(self._next, newest + 1))
        self._next = max(self._next, newest + 1)
        self._missing = set()
        out = []
        for jid in ids:
            job = self._job(jid)
            if job is None:
                self._missing.add(jid)
                continue
            sums = dict.fromkeys(STAGE_SUMS, 0)
            ran = 0
            for sid in job.get("stageIds") or []:
                stage = self._json(self._store.lastStageAttempt(sid))
                if stage.get("status") == "SKIPPED":
                    continue
                ran += 1
                for k in STAGE_SUMS:
                    sums[k] += int(stage.get(k) or 0)
            sub, done = job.get("submissionTime"), job.get("completionTime")
            out.append(
                {
                    "id": jid,
                    "start": sub / 1000.0 if sub is not None else None,
                    "end": done / 1000.0 if done is not None else None,
                    "stages": ran,
                    **sums,
                }
            )
        return out

    def gc_seconds(self) -> float:
        """Total collection time of every JVM garbage collector."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_max_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def peak_rss_parts_mb(spark) -> tuple[float, float]:
    """(driver JVM peak RSS, this Python process's peak RSS)."""
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(pid), python_max_rss_mb()


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    every process below it: this Python process, the driver JVM it
    started, and the JVM's Python workers; a child that has exited and
    been waited for counts through its parent's ``cutime``/``cstime``."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def host_ram_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
