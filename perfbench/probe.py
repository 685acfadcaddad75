"""Measurement helpers: process-tree memory and CPU from /proc, Spark job
accounting from job groups and ``statusTracker()``, stage shuffle/spill
bytes from Spark's monitoring REST API, and an in-memory span tracer.

Everything here observes the engine from outside: the spans wrap calls
the benchmark itself makes into ``t_res_spark``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants (driver JVM, Python
    workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """The process exists and has not exited (a zombie has)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def cpu_seconds() -> float:
    """user + system CPU seconds of the process tree (live processes)."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the resident memory of the whole process tree on a daemon
    thread every ``INTERVAL`` seconds; ``peak_mb`` is the largest sum seen.
    The tree is re-listed every ``RESCAN`` samples, so a sample reads only
    the known processes' statm."""

    INTERVAL = 0.05
    RESCAN = 20

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % self.RESCAN == 0:
                pids = tree_pids()
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            n += 1
            self._stop.wait(self.INTERVAL)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def job_stats(sc, group: str) -> dict:
    """Jobs, stages run (skipped ones excluded) and tasks run for one job
    group, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    run, tasks = [], 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            run.append(s)
            tasks += info.numCompletedTasks
    return {"jobs": sorted(jobs), "stages": sorted(run), "tasks": tasks}


def stage_table(sc) -> dict[int, dict]:
    """Per-stage tasks, executor run time, shuffle-write and spill bytes
    from the monitoring REST API at the driver UI (reachable only when
    the session runs with the UI on)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/stages", timeout=30) as r:
        rows = json.load(r)
    out: dict[int, dict] = {}
    for s in rows:
        d = out.setdefault(s["stageId"], {
            "name": s.get("name", ""), "tasks": 0, "run_ms": 0,
            "shuffle_write": 0, "spill": 0,
        })
        d["tasks"] += s.get("numCompleteTasks", 0)
        d["run_ms"] += s.get("executorRunTime", 0)
        d["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        d["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    return out


class Tracer:
    """Spans around the benchmark's calls into the engine.

    Each span sets its own Spark job group, so every job launched inside
    it (and not inside a child) is attributed to it. Spans are kept in
    memory (``spans``) and written out once, when the run ends."""

    def __init__(self, spark, run_id: str, cores: int):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, span: dict) -> str:
        return f"perfbench-{self.run_id}-{span['id']}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "counts": {},
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span), name)
        cpu0 = cpu_seconds()
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["cpu_s"] = cpu_seconds() - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            span.update(job_stats(self.sc, self._group(span)))

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def wall(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_time(self, name: str) -> float:
        s = self.get(name)
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"]
        )
        return s["end"] - s["start"] - kids

    def cpu_util(self, name: str) -> float:
        s = self.get(name)
        return s["cpu_s"] / max((s["end"] - s["start"]) * self.cores, 1e-9)
