"""Spans, Spark work counts and process memory for the benchmark.

The benchmark records a span around each call it makes into a layer of the
engine (``session``, ``sources``, ``queries``, ``graph``, ``streaming``).
Spans stay in memory and are written out once, at the end of a run. Every
span of a traced run also tags the Spark jobs it starts with its own job
group, so Spark's event log attributes jobs, stages and tasks to the span
that caused them. The event log is switched on from outside the engine
(``PYSPARK_SUBMIT_ARGS``), only for traced runs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.span_id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost one context-manager entry and nothing else."""

    enabled = False
    sc = None

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records spans and tags each one's Spark jobs with a job group."""

    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # set once a SparkContext exists

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.span_id if parent else None,
                  self.run_id, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.sc
        if sc is not None:
            sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None and self.sc is sc:
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        """Spans as JSON lines, each with its self time: its duration minus
        the part of it that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        with open(path, "w") as fh:
            for sp in self.spans:
                covered = union_seconds(
                    [(c.start, c.end) for c in children.get(sp.span_id, [])]
                )
                fh.write(json.dumps({
                    "run_id": sp.run_id, "span": sp.span_id, "parent": sp.parent,
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "self_s": sp.seconds - covered,
                }) + "\n")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


# -- Spark event log ---------------------------------------------------------


@dataclass
class GroupWork:
    """Spark work attributed to one job group."""

    jobs: list[tuple[float, float]] = field(default_factory=list)  # (start, end) s
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupWork") -> None:
        self.jobs += other.jobs
        for k in ("stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
                  "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def event_log_args(log_dir: str) -> list[str]:
    """spark-submit arguments that switch the event log on: one
    uncompressed file per application."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
    ]


def read_event_logs(log_dir: str) -> dict[str, GroupWork]:
    """Work per job group over every event log in ``log_dir``. Call after
    the SparkContexts have stopped, when the logs are complete."""
    work: dict[str, GroupWork] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        stage_group: dict[int, str] = {}
        job_start: dict[int, tuple[float, str]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_start[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, group)
                elif kind == "SparkListenerJobEnd":
                    start, group = job_start.get(ev["Job ID"], (None, ""))
                    if start is not None:
                        w = work.setdefault(group, GroupWork())
                        w.jobs.append((start, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = (
                        props.get("spark.jobGroup.id") or ""
                    )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    work.setdefault(stage_group.get(sid, ""), GroupWork()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    w = work.setdefault(stage_group.get(ev["Stage ID"], ""), GroupWork())
                    _add_task(w, ev)
    return work


def _add_task(w: GroupWork, ev: dict) -> None:
    w.tasks += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        w.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    w.run_s += m.get("Executor Run Time", 0) / 1e3
    w.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    w.gc_s += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    w.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    w.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    w.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def span_work(tracer: Tracer, work: dict[str, GroupWork], root: Span) -> GroupWork:
    """Spark work of ``root`` and every span below it."""
    below: dict[int, list[Span]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            below.setdefault(sp.parent, []).append(sp)
    total = GroupWork()
    todo = [root]
    while todo:
        sp = todo.pop()
        if sp.group in work:
            total.add(work[sp.group])
        todo += below.get(sp.span_id, [])
    return total


# -- storage and memory ------------------------------------------------------


def cached_rdds(spark) -> tuple[int, int]:
    """(count, bytes) of RDDs with cached partitions: persisted and locally
    checkpointed RDDs alive now, from Spark's storage info."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n = size = 0
    for info in infos:
        if info.numCachedPartitions() > 0:
            n += 1
            size += info.memSize() + info.diskSize()
    return n, size


def jvm_pid() -> int:
    """Process id of this process's JVM child (the Spark driver)."""
    me = str(os.getpid())
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(stat[:-4] + "comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            return int(stat.split("/")[2])
    raise RuntimeError("no JVM child process found")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
