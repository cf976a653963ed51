"""Measurement plumbing: spans around public calls, Spark job groups,
status-tracker counts, event-log task metrics, process RSS and JVM GC.

Everything here observes the program from outside: spans come from
wrapping module attributes (the program's own call sites look them up at
call time), counts from Spark's status tracker and event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import time


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent) with
    times in seconds on ``time.perf_counter``'s clock; ``dump`` writes them
    out once at the end of a run.

    ``wrap`` replaces ``owner.attr`` by a function that records a span and
    tags the Spark work it launches with a job group; ``restore`` undoes
    every wrap. While ``enabled`` is false the tracer records nothing and
    wraps nothing, so untraced code paths run unchanged."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Record a span; ``group`` also sets the Spark job group for the
        work launched inside it (restored afterwards)."""
        if not self.enabled:
            yield attrs
            return
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(group, name)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "group": group}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, owner, attr: str, name: str, group: str | None = None) -> None:
        """Wrap ``owner.attr`` in a span named ``name`` whose Spark work
        runs in job group ``group``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name, group):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: pathlib.Path, extra: dict | None = None) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **(extra or {})}, indent=1, default=str))


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


# ------------------------------------------------------------ status tracker

def group_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, stages run) of one job group, from the status tracker.
    Stages skipped because their shuffle output was reused do not count."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages.add(sid)
    return len(jobs), len(stages)


# ----------------------------------------------------------------- event log

def _event_lines(app: pathlib.Path):
    """Lines of one application's event log: a file, or a directory of
    rolling ``events_<n>_<app>`` parts."""
    parts = (sorted(app.glob("events_*"), key=lambda f: int(f.name.split("_")[1]))
             if app.is_dir() else [app])
    for f in parts:
        with f.open() as fh:
            yield from fh


def read_event_log(log_dir: pathlib.Path) -> dict[str, dict]:
    """Per job group task totals from the session's Spark event logs (one
    per application; stage ids restart in each): task_s (summed task
    durations), gc_s (summed task JVM GC time), shuffle_bytes (shuffle
    bytes written), spill_bytes (memory + disk bytes spilled) and tasks.
    Read after the session has stopped."""
    out: dict[str, dict] = {}
    for app in sorted(log_dir.iterdir()):
        stage_group: dict[int, str] = {}
        for line in _event_lines(app):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                acc = out.setdefault(g, {"task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                                         "spill_bytes": 0, "tasks": 0})
                acc["tasks"] += 1
                acc["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


# --------------------------------------------------------------- processes

def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in pathlib.Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p.name))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Summed peak RSS (VmHWM) of a process and all its descendants: the
    Spark JVM plus its Python daemon and UDF workers."""
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            status = pathlib.Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def jvm_gc_s(spark) -> float:
    """Total collection time so far of every collector in the JVM (local
    mode: the driver JVM is the executor)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def dir_bytes(path) -> int:
    return sum(f.stat().st_size for f in pathlib.Path(path).rglob("*") if f.is_file())


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
