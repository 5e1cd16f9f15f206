"""Tracing for the traced benchmark run: spans kept in memory, Spark job
groups per span, counts from the status tracker and task metrics from the
Spark event log, and peak resident memory read from /proc.

Spans are recorded here, around calls into the engine's public functions;
nothing inside the engine is instrumented.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Nested spans (name, start, end, parent). A span opened with
    ``spark=True`` also becomes the Spark job group of the jobs started
    inside it, so the event log attributes them to the span."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._patches: List[tuple] = []

    @contextmanager
    def span(self, name: str, spark: bool = True):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "group": f"perfbench-{sid}" if spark else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if spark:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                self._count_jobs(rec)
                self._restore_group()

    def _restore_group(self) -> None:
        for sid in reversed(self._stack):
            outer = self.spans[sid]
            if outer["group"]:
                self.sc.setJobGroup(outer["group"], outer["name"])
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _count_jobs(self, rec: dict) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        stages = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            stages += len(info.stageIds) if info else 0
        rec["jobs"] = len(jobs)
        rec["stages"] = stages

    def patch(self, module, attr: str, name: str, spark: bool = True) -> None:
        """Wrap ``module.attr`` in a span until :meth:`unpatch`."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, spark=spark):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> None:
        """Set ``dur`` and ``self`` (duration minus time covered by child
        spans; children of one thread never overlap) on every span."""
        child_time: Dict[int, float] = {}
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["dur"]
        for s in self.spans:
            s["self"] = s["dur"] - child_time.get(s["id"], 0.0)

    def descendants(self, root: int) -> List[dict]:
        """The span ``root`` and every span nested under it."""
        keep = {root}
        out = []
        for s in self.spans:
            if s["id"] in keep or s["parent"] in keep:
                keep.add(s["id"])
                out.append(s)
        return out

    def total(self, name: str, key: str = "self", under: Optional[int] = None) -> float:
        spans = self.descendants(under) if under is not None else self.spans
        return sum(s[key] for s in spans if s["name"] == name)


def read_event_log(log_dir: str) -> Dict[Optional[str], dict]:
    """Task metrics summed per job group from Spark event logs.

    Returns ``{group: {jobs, tasks, task_s, gc_s, shuffle_bytes,
    result_bytes}}``; jobs started outside any group are under ``None``."""
    stage_group: Dict[int, Optional[str]] = {}
    out: Dict[Optional[str], dict] = {}

    def bucket(group):
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "result_bytes": 0,
        })

    paths = sorted(
        os.path.join(root, fn)
        for root, _dirs, names in os.walk(log_dir)
        for fn in names
        # skip the rolling log's completion marker and checksum files
        if not fn.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    b = bucket(stage_group.get(ev.get("Stage ID")))
                    b["tasks"] += 1
                    b["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    b["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    b["result_bytes"] += m.get("Result Size", 0)
    return out


def sum_groups(per_group: Dict[Optional[str], dict], groups) -> dict:
    tot = {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "shuffle_bytes": 0, "result_bytes": 0}
    for g in groups:
        for k, v in per_group.get(g, {}).items():
            tot[k] += v
    return tot


# -- memory -------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def descendants(root: int) -> List[int]:
    """Every process under ``root``."""
    parent: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # "pid (comm) state ppid ...": comm may hold spaces
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an ended process not yet reaped (a zombie)
    counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def engine_cpu_s() -> float:
    """CPU time (user + system) used so far by this process and every
    process under it (the JVM, its Python worker daemon and workers),
    children already ended and reaped included. Time the host took the
    CPUs away (steal) is not in it."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended between listing and reading
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def engine_peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of the JVM and every process
    it spawned (the Python worker daemon and its workers), in MiB."""
    pids = [jvm_pid] + descendants(jvm_pid)
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0
