"""Session, timing loop, memory sampler and tracing for the benchmark.

The benchmark is a client of the engine: it owns one SparkSession
(``local[nproc]``), drives each workload as a closed loop with one
client, and observes the engine only through the public layer functions
it calls and through Spark's public surfaces on its own session (job
groups, local properties, ``Observation`` and the event log).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
PF_FORKNOEXEC = 0x40  # /proc/<pid>/stat flags: forked, not yet exec'd


def descendants() -> dict[int, tuple[str, int, str]]:
    """{pid: (state, rss bytes, command)} of this process's live
    descendants (the driver JVM and the Python workers it forks), read
    from /proc.  A child the JVM has spawned but that has not yet
    exec'd shares the JVM's memory, so its rss reads 0."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int, str]] = {}
    parent: dict[int, int] = {}
    unexeced: set[int] = set()
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue  # the process ended while /proc was listed
        fields = tail.split()
        pid = int(stat.split("/")[2])
        parent[pid] = int(fields[1])
        children.setdefault(parent[pid], []).append(pid)
        info[pid] = (fields[0], int(fields[21]) * PAGE, head.split("(", 1)[1])
        if int(fields[6]) & PF_FORKNOEXEC:
            unexeced.add(pid)
    out, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        if pid in info and info[pid][0] != "Z":
            state, rss, comm = info[pid]
            if pid in unexeced and info.get(parent[pid], ("", 0, ""))[2] == "java":
                rss = 0
            out[pid] = (state, rss, comm)
        todo += children.get(pid, [])
    return out


def _cpu_ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path) as f:
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])
    except OSError:
        return 0  # the process ended


def tree_cpu_s(skip_tid: int | None = None) -> float:
    """CPU seconds used so far by this process (less its thread
    ``skip_tid``) and its live descendants, with the children each of
    them has reaped.  Time the host steals from the machine is charged
    to no process, so this stays steady when the host is busy."""
    t = os.times()
    ticks = sum(_cpu_ticks(f"/proc/{pid}/stat", slice(11, 15)) for pid in descendants())
    if skip_tid is not None:
        ticks -= _cpu_ticks(f"/proc/self/task/{skip_tid}/stat", slice(11, 13))
    return t.user + t.system + ticks / os.sysconf("SC_CLK_TCK")


def alive(pids) -> list[int]:
    """The pids that still exist and are not zombies."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            pass
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of `descendants`, sampled every ``interval``
    seconds by a thread outside the sampled processes."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = self.peak_jvm = 0
        self.tid: int | None = None  # native thread id, once running
        self._halt = threading.Event()

    def run(self) -> None:
        self.tid = threading.get_native_id()
        while not self._halt.is_set():
            procs = descendants().values()
            self.peak = max(self.peak, sum(p[1] for p in procs))
            self.peak_jvm = max(self.peak_jvm, sum(p[1] for p in procs if p[2] == "java"))
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory spans (name, start, end, parent, op).  Entering a span
    tags the Spark jobs started inside it through a local property, so
    event-log records can be attributed to the innermost span.  With
    ``on`` false every call is a no-op and nothing is recorded."""

    def __init__(self, spark, on: bool):
        self.sc = spark.sparkContext
        self.on = on
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"name": name, "op": self.op, "parent": parent["id"] if parent else None,
             "id": f"{self.op}:{len(self.spans)}:{name}", "start": time.time()}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROP, s["id"])
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, parent["id"] if parent else None)

    def op_spans(self, op: int) -> dict[str, dict]:
        return {s["name"]: s for s in self.spans if s["op"] == op}


def dur(span: dict | None) -> float:
    return span["end"] - span["start"] if span else 0.0


class EventLog:
    """Job, stage and task records of the benchmark's own session, read
    from the Spark event log after the session stops."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_props: dict[int, dict] = {}
        self.tasks: list[dict] = []
        for f in sorted(glob.glob(os.path.join(path, "*"))):
            with open(f) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "span": props.get(SPAN_PROP),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            self.stage_props[ev["Stage Info"]["Stage ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "span": props.get(SPAN_PROP),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            props = self.stage_props.get(ev["Stage ID"], {})
            self.tasks.append({
                "stage": ev["Stage ID"],
                "group": props.get("group"),
                "span": props.get("span"),
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "run_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read_records": sr.get("Total Records Read", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
            })

    # -- selections -------------------------------------------------------
    def jobs_in(self, *, group=None, span=None) -> list[dict]:
        return [j for j in self.jobs.values()
                if (group is None or j["group"] == group)
                and (span is None or j["span"] == span)]

    def tasks_in(self, *, group=None, spans=None) -> list[dict]:
        return [t for t in self.tasks
                if (group is None or t["group"] == group)
                and (spans is None or t["span"] in spans)]


def task_skew(tasks: list[dict]) -> float:
    """max ÷ median task time over the shuffle-reading stages with at
    least two tasks (1.0 when there are none)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        if t["shuffle_read_records"] > 0:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
    ratios = [max(v) / max(statistics.median(v), 1e-3)
              for v in by_stage.values() if len(v) >= 2]
    return max(ratios, default=1.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def tail(xs) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); (None, None, n) below 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None, None, n
    rank = n - 11  # ten samples strictly above this one
    return xs[rank], round(100.0 * (rank + 1) / n, 1), n
