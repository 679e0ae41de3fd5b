"""Instruments the benchmark holds from outside the engine.

* ``Tracer`` records spans (name, start, end, parent, op id) and counts
  around the calls the benchmark makes into the engine, in memory; the
  run writes them out when it ends.  A disabled tracer records nothing.
* ``ProcSampler`` reads ``/proc`` for the JVM that PySpark launched and
  every process below it: CPU seconds of them all, and the high-water sum
  of the resident sets of the JVM and its Python daemon and workers,
  sampled by a background thread.
* ``rollup_event_log`` folds Spark's own JSON event log (uncompressed,
  non-rolling) into per-job-group totals with nothing but ``json``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None):
        return self._span(name, op) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name, op):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value, op: str | None = None) -> None:
        if self.enabled:
            self.counts.append({"name": name, "op": op, "value": value})

    def total(self, name: str, op: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )

    def summed(self, name: str, op_prefix: str = "") -> float:
        return sum(
            c["value"]
            for c in self.counts
            if c["name"] == name and (c["op"] or "").startswith(op_prefix)
        )


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_s(pid: int) -> tuple[float, float]:
    """(utime + stime of ``pid``, the same for its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return 0.0, 0.0
    f = stat[stat.rindex(")") + 2 :].split()
    return (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


class ProcSampler:
    """CPU and resident memory of the JVM process tree rooted at ``pid``."""

    def __init__(self, pid: int, period_s: float = 0.05) -> None:
        self.pid = pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> tuple[float, float]:
        """(CPU seconds of the whole tree, of its processes below the JVM).

        A child that exits moves its time into its parent's reaped share,
        so deltas stay right while workers come and go."""
        own, reaped = _cpu_s(self.pid)
        below = reaped + sum(sum(_cpu_s(p)) for p in _tree(self.pid) if p != self.pid)
        return own + below, below

    def rss_mb(self) -> float:
        """The JVM plus the Python daemon and workers below it.  Other
        children (the short-lived helpers the JVM spawns to run shell
        commands) are left out: while a spawn is in progress the child
        still maps the JVM's memory, and counting it would double the JVM."""
        return _rss_mb(self.pid) + sum(
            _rss_mb(p) for p in _tree(self.pid) if p != self.pid and _is_python(p)
        )

    def start(self) -> None:
        self.peak_mb = self.rss_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.rss_mb())
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, self.rss_mb())


# ------------------------------------------------------------- event log
def rollup_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, executor run/CPU/GC
    time, shuffle bytes and records written, spill and the task-time
    skew (max / median) of its worst stage."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                            "sw_records": sw.get("Shuffle Records Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    out: dict[str, dict] = {
        g: {
            "jobs": n,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_records": 0,
            "spill_mb": 0.0,
            "task_skew": 1.0,
        }
        for g, n in jobs.items()
    }
    for sid, ts in tasks.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        r = out[g]
        r["stages"] += 1
        r["tasks"] += len(ts)
        r["executor_run_s"] += sum(t["run_ms"] for t in ts) / 1e3
        r["executor_cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        r["gc_s"] += sum(t["gc_ms"] for t in ts) / 1e3
        r["shuffle_write_mb"] += sum(t["sw_bytes"] for t in ts) / 2**20
        r["shuffle_records"] += sum(t["sw_records"] for t in ts)
        r["spill_mb"] += sum(t["spill"] for t in ts) / 2**20
        med = statistics.median(t["ms"] for t in ts)
        if med > 0:
            r["task_skew"] = max(r["task_skew"], max(t["ms"] for t in ts) / med)
    return out
