"""Counters read around each pass, outside its timing.

* CPU time of the benchmark process and all its descendants (the driver
  JVM, the PySpark daemon and its workers), from ``/proc``: user + system
  time of every live process in the tree plus what each has reaped from
  children that already exited. Hypervisor steal is not in these counters.
* Steal from ``/proc/stat``, host-wide.
* The driver JVM's JIT compile time and GC time, from its management
  beans through py4j.
* Memory: the Python driver's peak RSS over a window (``VmHWM``, reset
  through ``/proc/self/clear_refs``), the JVM's live heap after a forced
  full collection, and Spark's execution memory and the memory of
  persisted data, from the status store.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17.
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), own, reaped


def cpu_tree(root: int, jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds used so far by ``root`` (this process), the driver JVM,
    and everything else below the JVM (the Python workers)."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ru = resource.getrusage(resource.RUSAGE_SELF)
    out = {"driver_py": ru.ru_utime + ru.ru_stime, "jvm": 0.0, "pyworker": 0.0}
    # Children this process reaped (the gateway JVMs of earlier session
    # starts) are set-up cost, not pass cost; they stay constant over a pass.
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        _, own, reaped = procs[pid]
        if pid == jvm_pid:
            out["jvm"] += own
            out["pyworker"] += reaped
        else:
            out["pyworker"] += own + reaped
    out["total"] = out["driver_py"] + out["jvm"] + out["pyworker"]
    return out


def steal_s() -> float:
    """CPU time the hypervisor has stolen from this machine so far (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def reset_py_peak() -> None:
    """Reset this process's peak RSS so the next ``py_peak_mb`` covers only
    what follows."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _status_kb(field: str) -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field):
                return float(line.split()[1])
    raise RuntimeError(f"no {field} in /proc/self/status")


def py_rss_mb() -> float:
    return _status_kb("VmRSS:") / 1024.0


def py_peak_mb() -> float:
    return _status_kb("VmHWM:") / 1024.0


class JvmProbe:
    """The driver JVM's management beans and Spark's status store, read
    through py4j between passes and spans."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._system = jvm.java.lang.System
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self.pid = self._sc._gateway.proc.pid
        self._seen_jobs: set[int] = set()

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def live_heap_mb(self) -> float:
        """Heap in use after a forced full collection."""
        self._system.gc()
        return self._mem.getHeapMemoryUsage().getUsed() / MB

    def drain(self) -> None:
        """Wait until the status store has seen every event so far."""
        self._bus.waitUntilEmpty()

    def stage(self, sid: int):
        """The status store's record of a stage's first attempt, or None if
        the store no longer holds it."""
        try:
            return self._store.stageAttempt(sid, 0, False, None, False, None)._1()
        except Exception as exc:  # py4j wraps the store's NoSuchElementException
            if "NoSuchElementException" not in str(exc):
                raise
            return None

    def cached_mb(self) -> float:
        """Memory the block manager holds for persisted RDDs and DataFrames
        (local checkpoints included), all executors."""
        rdds = self._store.rddList(True)
        return sum(rdds.apply(i).memoryUsed() for i in range(rdds.size())) / MB

    def new_jobs(self) -> dict:
        """Jobs, stages and the largest stage peak execution memory of the
        jobs that ran since the last call (jobs outside any job group)."""
        self.drain()
        tracker = self._sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j not in self._seen_jobs]
        self._seen_jobs.update(jobs)
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        peak, stages, missing = 0, 0, 0
        for sid in stage_ids:
            st = self.stage(sid)
            if st is None:
                missing += 1
            elif st.status().toString() != "SKIPPED":
                stages += 1
                peak = max(peak, st.peakExecutionMemory())
        return {"jobs": len(jobs), "stages": stages, "evicted": missing,
                "exec_peak_mb": peak / MB}
