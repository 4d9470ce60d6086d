"""Spans, process CPU and Spark status-store counters for the benchmark.

Spans are recorded from the benchmark's own files, around each call
into a layer of the package; nothing inside the package is touched.
A span keeps its name, start, end, parent and run id in memory; the
runner writes them out when the run ends.  Each traced span tags its
Spark work with a job group of its own, so the jobs, stages, bytes and
executor CPU it caused are read back from Spark's status store by
group, after the span closes.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds including reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        cpu = sum(int(x) for x in fields[11:15]) / _HZ
        out[int(name)] = (int(fields[1]), comm, cpu)
    return out


def _descendants(stats: dict, root: int, exclude: set[int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return seen


class ProcessCpu:
    """CPU seconds of this process and everything it started (the Spark
    JVM and its Python workers), split into ``jvm`` and ``py``.  The pids
    in ``exclude`` (test doubles run as children) are counted apart, as
    ``other``, never as the program's."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()

    def sample(self) -> dict[str, float]:
        stats = _proc_stats()
        mine = _descendants(stats, os.getpid(), self.exclude)
        out = {"jvm": 0.0, "py": 0.0, "other": 0.0}
        for pid in mine:
            _, comm, cpu = stats[pid]
            out["jvm" if comm == "java" else "py"] += cpu
        for pid in self.exclude:
            if pid in stats:
                out["other"] += sum(stats[p][2] for p in _descendants(stats, pid, set()))
        return out

    def peak_rss_mb(self) -> float:
        """Sum of the per-process resident-memory high-water marks."""
        stats = _proc_stats()
        total_kb = 0
        for pid in _descendants(stats, os.getpid(), self.exclude):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024


def cpu_total(sample: dict[str, float]) -> float:
    return sample["jvm"] + sample["py"]


@dataclass
class Span:
    name: str
    run_id: str
    seq: int
    parent: int | None
    start: float
    end: float = 0.0
    cpu: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Per-job-group totals from Spark's status store (the store behind
    the UI; it is populated with the UI disabled too)."""

    FIELDS = ("jobs", "tasks", "failed_tasks", "input_bytes", "output_bytes",
              "shuffle_write_bytes")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sparkContext().statusStore()

    def stages(self, group: str) -> tuple[int, list]:
        """(job count, last attempt of each stage that ran) for ``group``,
        stages in id order."""
        tracker = self.sc.statusTracker()
        jobs, ids = 0, set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                jobs += 1
                ids.update(info.stageIds)
        ran = []
        for sid in sorted(ids):
            try:
                ran.append(self.store.lastStageAttempt(sid))
            except Exception:  # a skipped stage never ran and has no attempt
                continue
        return jobs, ran

    def for_group(self, group: str) -> dict:
        jobs, ran = self.stages(group)
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = jobs
        for st in ran:
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out


class Tracer:
    """Spans around calls into the package.  Disabled, ``span`` only
    yields; enabled, it records wall, CPU and the span's Spark work."""

    def __init__(self, spark, run_id: str, enabled: bool, cpu: ProcessCpu) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.cpu = cpu
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0

    def group(self, span: Span) -> str:
        return f"{self.run_id}:{span.seq}:{span.name}"

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.group(span), span.name)

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1].seq if self._stack else None
        span = Span(name, self.run_id, len(self.spans), parent, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span.cpu = self.cpu.sample()
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        after = self.cpu.sample()
        span.cpu = {k: after[k] - span.cpu[k] for k in after}
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        span.spark = self.counters.for_group(self.group(span))
        self.bookkeeping_s += time.perf_counter() - span.end

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """span seq -> duration minus the part its children cover."""
        child_wall: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
        return {s.seq: s.wall - child_wall.get(s.seq, 0.0) for s in spans}

    def records(self) -> list[dict]:
        selfs = self.self_times(self.spans)
        return [
            {
                "run_id": s.run_id, "seq": s.seq, "name": s.name,
                "parent": s.parent, "start": s.start, "end": s.end,
                "self_s": selfs[s.seq], "cpu": s.cpu, "spark": s.spark,
            }
            for s in self.spans
        ]
