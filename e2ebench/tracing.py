"""Process-tree CPU, host-noise samples, spans and the event-log reduction.

Spans are recorded in memory by the benchmark's own code around its calls
into each layer. Every span sets two Spark local properties on the calling
thread, ``e2ebench.unit`` and ``e2ebench.span``; the jobs and stages an
action submits carry them into the event log, which is reduced after the
session stops. Micro-batch callbacks run on their own thread and inherit
the stream's ``streaming.sql.batchId``; the span wrappers set the two
properties on that thread as well, so both workloads attribute the same way.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` and every descendant: user + system of the
    live processes plus what their reaped children left in cutime/cstime,
    so a worker that exits between two samples is still counted."""
    root = root or os.getpid()
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        if f is None:
            continue
        # after the name: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        parent[int(pid)] = int(f[1])
        cpu[int(pid)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def host_sample() -> dict:
    """/proc/stat CPU jiffies (incl. steal) and /proc/loadavg."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"jiffies": sum(cpu[:8]), "steal": cpu[7] if len(cpu) > 7 else 0, "load": load}


def host_noise(before: dict, after: dict) -> dict:
    dj = max(after["jiffies"] - before["jiffies"], 1)
    return {
        "steal_share": round((after["steal"] - before["steal"]) / dj, 5),
        "loadavg_start": before["load"],
        "loadavg_end": after["load"],
    }


class Tracer:
    """In-memory spans and counts for one traced session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self._local = threading.local()

    @property
    def unit(self) -> str:
        """The calling thread's unit; in a micro-batch callback, the batch id."""
        unit = getattr(self._local, "unit", None)
        if unit is None:
            unit = self.sc.getLocalProperty("streaming.sql.batchId") or ""
        return unit

    def set_unit(self, unit: str | int) -> None:
        self._local.unit = str(unit)
        self.sc.setLocalProperty("e2ebench.unit", str(unit))

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        stack.append(name)
        self.sc.setLocalProperty("e2ebench.unit", self.unit)
        self.sc.setLocalProperty("e2ebench.span", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"unit": self.unit, "name": name, "parent": parent,
                 "s": time.perf_counter() - t0}
            )
            stack.pop()
            self.sc.setLocalProperty("e2ebench.span", parent)

    def count(self, name: str, value: float) -> None:
        self.counts[(self.unit, name)] += value

    def self_seconds(self) -> dict[tuple[str, str], float]:
        """(unit, span) -> self time: duration minus direct children. A
        span opened on another thread than its unit's root (a micro-batch
        callback) counts as a child of the root span ``unit``."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for sp in self.spans:
            out[(sp["unit"], sp["name"])] += sp["s"]
            parent = sp["parent"] or ("unit" if sp["name"] != "unit" else None)
            if parent:
                out[(sp["unit"], parent)] -= sp["s"]
        return out


def reduce_event_log(log_dir: str) -> dict[tuple[str, str], dict[str, float]]:
    """(unit, span) -> jobs, stages, tasks, executor run/CPU ms, shuffle
    read/write bytes and spill bytes, from a non-rolling, uncompressed
    event log. A stage counts once, under the job that submitted it."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    acc: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_key: dict[int, tuple[str, str]] = {}

    def key(props: dict) -> tuple[str, str] | None:
        # a callback thread keeps the previous batch's unit property until
        # its first span, so the stream's own batch id takes precedence
        unit = props.get("streaming.sql.batchId") or props.get("e2ebench.unit")
        if not unit:
            return None
        return unit, props.get("e2ebench.span") or ""

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                k = key(ev.get("Properties") or {})
                if k:
                    acc[k]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                k = key(ev.get("Properties") or {})
                if k:
                    stage_key[ev["Stage Info"]["Stage ID"]] = k
                    acc[k]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                k = stage_key.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if k is None:
                    continue
                a = acc[k]
                a["tasks"] += 1
                if not m:
                    continue
                a["executor_run_ms"] += m.get("Executor Run Time", 0)
                a["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return acc
