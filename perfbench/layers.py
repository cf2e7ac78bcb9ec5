"""Measurement helpers of the benchmark, kept free of Spark so they can be
tested alone: percentile selection, span self-time, the Spark event-log
parser, the counting store-IO proxy, process-tree memory and the host probe.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------- statistics


def tail_rank(n: int, beyond: int = 10) -> int | None:
    """0-based rank (in ascending order) of the highest sample that has at
    least ``beyond`` samples above it; None when there are too few."""
    return n - beyond - 1 if n > beyond else None


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that has at least
    ``beyond`` samples beyond it, or None when ``len(samples) <= beyond``."""
    rank = tail_rank(len(samples), beyond)
    if rank is None:
        return None
    return sorted(samples)[rank], 100.0 * (rank + 1) / len(samples)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values)


# ------------------------------------------------------------------- spans


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Part of ``span`` covered by the children, each clipped to the span."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in children]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


# --------------------------------------------------------------- event log

# Physical operators whose stages run Python workers (pandas, Arrow or
# row-at-a-time Python UDFs).
PYTHON_OPERATORS = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "PythonUDTF",
    "PythonRDD",
)

_MB = 1 << 20


def _stage_runs_python(stage_info: dict) -> bool:
    text = json.dumps(stage_info.get("RDD Info", []))
    return any(op in text for op in PYTHON_OPERATORS)


def parse_event_log(path: str) -> dict:
    """Per job group, the jobs (with their wall intervals in seconds since
    the epoch) and the summed task metrics of a Spark JSON event log.

    Returns ``{group: {"jobs": [(start_s, end_s), ...], "tasks": {...}}}``
    where ``tasks`` holds the task count ``n``, the count of stages that ran
    tasks and the summed task metrics;
    jobs launched outside any group land under the group ``None``."""
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    python_stages: set[int] = set()
    out: dict = defaultdict(
        lambda: {"jobs": [], "stages": set(), "tasks": defaultdict(float)}
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                for info in ev.get("Stage Infos", []):
                    if _stage_runs_python(info):
                        python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if _stage_runs_python(info):
                    python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                group = job_group.get(jid)
                out[group]["jobs"].append((job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                jid = stage_job.get(ev["Stage ID"])
                if not m or jid is None:
                    continue
                group = out[job_group.get(jid)]
                group["stages"].add(ev["Stage ID"])
                t = group["tasks"]
                run_s = m.get("Executor Run Time", 0) / 1000.0
                t["n"] += 1
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["run_s"] += run_s
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                t["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / _MB
                rd = m.get("Shuffle Read Metrics", {})
                t["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / _MB
                t["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
                )
                t["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / _MB
                t["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / _MB
                if ev["Stage ID"] in python_stages:
                    t["python_stage_run_s"] += run_s
    return {
        g: {"jobs": v["jobs"], "tasks": {**v["tasks"], "stages": len(v["stages"])}}
        for g, v in out.items()
    }


# ---------------------------------------------------------------- store IO

_WRITES = ("put_atomic", "put_if_absent", "replace_if_match")
_DELETES = ("delete", "delete_if_match", "delete_prefix")
_CONDITIONAL = ("put_if_absent", "delete_if_match", "replace_if_match")
_READS = ("get_text", "list_names")
METHODS = _WRITES + _DELETES + _READS


class CountingStoreIO:
    """Wraps a store-IO implementation; every primitive returns exactly what
    the wrapped one returns, and is counted and timed on the way."""

    def __init__(self, inner):
        self._inner = inner
        self._lock = threading.Lock()
        self.counts: dict[str, float] = defaultdict(float)
        for name in METHODS:
            setattr(self, name, self._wrap(name, getattr(inner, name)))

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _wrap(self, name, fn):
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            result = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            with self._lock:
                c = self.counts
                c["calls"] += 1
                c["s"] += dt
                c["writes"] += name in _WRITES
                c["deletes"] += name in _DELETES
                c["lists"] += name == "list_names"
                if name in _CONDITIONAL:
                    c["cond_attempts"] += 1
                    c["cond_won"] += bool(result)
            return result

        return call

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self.counts)


# ------------------------------------------------------------ host and OS


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        head, tail = stat.rsplit(")", 1)
        table[int(entry)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return table


def process_tree(root: int, memory_only: bool = False) -> list[int]:
    """``root`` and all its descendants. With ``memory_only``, children a
    JVM spawns other than Python workers are left out: Hadoop's local file
    system forks ``chmod`` and friends, and until its exec such a child
    reports the whole JVM's resident memory as its own."""
    table = _proc_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        children = kids.get(pid, [])
        if memory_only and table.get(pid, (0, ""))[1] == "java":
            children = [c for c in children if table[c][1].startswith("python")]
        todo.extend(children)
    return tree


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and its descendants, in MB (see
    ``process_tree(memory_only=True)``)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root, memory_only=True):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / _MB


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, used so far by ``root`` and its
    descendants, including children they have already reaped. Time the
    hypervisor gives to other guests is not in it."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory until stopped; ``peak_mb``
    is the highest sample."""

    def __init__(self, root: int, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop_event.wait(self.interval_s)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_mb


def _probe_once() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_probe_s() -> float:
    """Best of three timings of a fixed single-thread loop: a contended host
    shows up as a larger value. Recorded, never used to scale metrics."""
    return min(_probe_once() for _ in range(3))


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    all CPUs, from the ``steal`` column of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
