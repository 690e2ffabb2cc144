"""Tracing for the benchmark: spans, process readings from ``/proc``,
Spark event-log parsing and executed-plan node counts.

Spans are kept in memory and written out when the run ends. Spark jobs
are tied to spans through their job group, which the benchmark sets to
``bench:<workload>:<pass>:<query>:<phase>`` around every phase.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
_PAGE_MB = (os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096) / 2**20


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def to_records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start,
             "end": s.end, "self_s": selfs[s.id], **s.attrs}
            for s in self.spans
        ]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(lo, s.start), min(hi, s.end)) for lo, hi in children[s.id]]
        covered = union_length([(lo, hi) for lo, hi in clipped if hi > lo])
        out[s.id] = (s.end - s.start) - covered
    return out


# ------------------------------------------------------------ processes


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ")"
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` and its reaped children."""
    f = _stat(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _CLK_TCK


def rss_mb(pid: int) -> float:
    f = _stat(pid)
    return int(f[21]) * _PAGE_MB if f else 0.0


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f:
                parent[int(d)] = int(f[1])
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


# JVM thread-name prefixes by kind (names are cut to 15 characters)
JVM_THREAD_KINDS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 "),
    "task": ("Executor task",),
}


def thread_cpu_by_kind(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds each kind of JVM thread used between two
    ``jvm_threads`` readings. Threads that ended in between drop out
    (the JVM starts and stops JIT compiler threads as load changes)."""
    out = dict.fromkeys([*JVM_THREAD_KINDS, "other"], 0.0)
    for tid, (kind, cpu) in after.items():
        out[kind] += cpu - before.get(tid, (kind, 0.0))[1]
    return out


class ProcWatch:
    """Readings of the JVM and its Python workers (all descendants of
    the JVM: the ``pyspark.daemon`` and the workers it forks).

    A background thread samples the workers' summed RSS once a second
    for their peak; CPU is read on demand.
    """

    def __init__(self, jvm_pid: int, interval: float = 1.0):
        self.jvm_pid = jvm_pid
        self.worker_peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample_workers()

    def sample_workers(self) -> None:
        self.worker_peak_mb = max(
            self.worker_peak_mb, sum(rss_mb(p) for p in descendants(self.jvm_pid))
        )

    def worker_cpu_s(self) -> float:
        return sum(cpu_seconds(p) for p in descendants(self.jvm_pid))

    def jvm_cpu_s(self) -> float:
        f = _stat(self.jvm_pid)
        return (int(f[11]) + int(f[12])) / _CLK_TCK if f else 0.0

    def jvm_threads(self) -> dict[str, tuple[str, float]]:
        """``{thread id: (kind, CPU seconds)}`` for the JVM's live threads;
        kinds are the keys of ``JVM_THREAD_KINDS`` and ``"other"`` (py4j,
        scheduler, listeners)."""
        out = {}
        task_dir = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task_dir)
        except OSError:
            return out
        for tid in tids:
            try:
                with open(f"{task_dir}/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            name = raw[raw.index("(") + 1:raw.rindex(")")]
            f = raw[raw.rindex(")") + 2:].split()
            kind = next((k for k, prefixes in JVM_THREAD_KINDS.items()
                         if name.startswith(prefixes)), "other")
            out[tid] = (kind, (int(f[11]) + int(f[12])) / _CLK_TCK)
        return out

    def close(self) -> tuple[float, float]:
        """Stop sampling; ``(jvm_peak_mb, worker_peak_mb)``."""
        self.sample_workers()
        self.worker_peak_mb = max(
            self.worker_peak_mb,
            sum(peak_rss_mb(p) for p in descendants(self.jvm_pid)),
        )
        self._stop.set()
        self._thread.join(timeout=5)
        return peak_rss_mb(self.jvm_pid), self.worker_peak_mb


# --------------------------------------------------------------- py4j


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``. Memory commands, which release Java objects when
    Python garbage-collects their proxies, are not counted: when they
    happen depends on the collector, not on the code."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        inner = client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith("m\n"):
                self.calls += 1
            return inner(command, *args, **kwargs)

        client.send_command = counting


# ---------------------------------------------------------------- plans

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
)
_NODE = re.compile(r"^[\s:+\-|*!()0-9]*([A-Za-z][A-Za-z0-9]*)")


def plan_nodes(tree: str) -> list[str]:
    """Operator names of a Spark plan tree string, one per line."""
    out = []
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m:
            out.append(m.group(1))
    return out


def plan_counts(tree: str) -> dict[str, int]:
    nodes = plan_nodes(tree)
    return {
        "exchanges": sum(n == "Exchange" for n in nodes),
        "broadcasts": sum(n == "BroadcastExchange" for n in nodes),
        "python_nodes": sum(n in PYTHON_NODES for n in nodes),
    }


HEAVY_LOGICAL = ("Join", "Window", "Generate", "Expand") + PYTHON_NODES


def heavy_nodes(tree: str) -> int:
    """Joins, windows, generators and Python stages in a logical plan:
    the declared work ``count()`` may prune."""
    return sum(n in HEAVY_LOGICAL for n in plan_nodes(tree))


# ------------------------------------------------------------ event log


def parse_event_log(event_dir: str) -> tuple[dict, dict]:
    """``(jobs, stages)`` from the single application log in ``event_dir``.

    ``jobs[id]`` has the job group, submit/complete epoch ms and stage
    ids; ``stages[id]`` has submit/complete times, task counts and task
    metric sums.
    """
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    jobs, stages = {}, {}

    def stage(sid):
        return stages.setdefault(sid, defaultdict(float, {"submitted": False}))

    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "t0": ev["Submission Time"],
                    "t1": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                s = stage(info["Stage ID"])
                s["submitted"] = True
                s["t0"] = info.get("Submission Time") or 0
                s["t1"] = info.get("Completion Time") or 0
            elif kind == "SparkListenerTaskEnd":
                s = stage(ev["Stage ID"])
                tm = ev.get("Task Metrics") or {}
                ti = ev.get("Task Info") or {}
                s["tasks"] += 1
                s["failed_tasks"] += bool(ti.get("Failed"))
                run = tm.get("Executor Run Time", 0)
                s["run_ms"] += run
                s["cpu_ns"] += tm.get("Executor CPU Time", 0)
                s["gc_ms"] += tm.get("JVM GC Time", 0)
                wall = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                s["sched_delay_ms"] += max(
                    0, wall - run - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0)
                )
                rd = tm.get("Shuffle Read Metrics") or {}
                s["fetch_wait_ms"] += rd.get("Fetch Wait Time", 0)
                s["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                s["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                inp = tm.get("Input Metrics") or {}
                s["input_b"] += inp.get("Bytes Read", 0)
                s["input_rows"] += inp.get("Records Read", 0)
    return jobs, stages
