"""Measurement read from outside the engine: Spark's status store, the
process tree's resident memory and the host's CPU counters.

Every reader here runs after a timer stops, never inside a timed region.
"""

from __future__ import annotations

import os
import threading

#: stage counters summed per window (status-store StageData getters)
STAGE_COUNTERS = {
    "executorRunTime": "task_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


class StatusStore:
    """Windowed job/stage counters from the Spark driver's AppStatusStore.

    ``mark()`` records the newest job and stage ids; ``since(mark)`` sums
    every job and stage created after it. The store lists newest first,
    so a window read stops at the first id at or below its mark.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._store = sc._jsc.sc().statusStore()

    def _stages(self):
        jvm = self._jvm
        # full Scala signature, py4j has no default arguments:
        # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        return self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ).iterator()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()

    def mark(self) -> tuple[int, int]:
        jobs, stages = self._jobs(), self._stages()
        job = int(jobs.next().jobId()) if jobs.hasNext() else -1
        stage = int(stages.next().stageId()) if stages.hasNext() else -1
        return job, stage

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        job_mark, stage_mark = mark
        out = dict.fromkeys(STAGE_COUNTERS.values(), 0)
        out["jobs"] = out["stages"] = 0
        jobs = self._jobs()
        while jobs.hasNext() and int(jobs.next().jobId()) > job_mark:
            out["jobs"] += 1
        stages = self._stages()
        while stages.hasNext():
            s = stages.next()
            if int(s.stageId()) <= stage_mark:
                break
            if str(s.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            for getter, key in STAGE_COUNTERS.items():
                out[key] += int(getattr(s, getter)())
        return out


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (not ``root``
    itself): the JVM this process launched plus its Python workers."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of :func:`tree_rss_bytes`."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total > 0 else 0.0
