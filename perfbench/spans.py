"""Spans recorded around public calls, and per-stage counters read by job group.

A span is opened by the benchmark around one call into a layer. It sets the
Spark job group, so every job that call starts is attributed to it, and it
records wall time. Stage counters are read afterwards from the driver's status
store, which keeps them with ``spark.ui.enabled=false``. Nothing here runs
while the untraced iterations are timed.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = float(1 << 20)

#: Counters that repeat exactly from run to run of the same inputs and code,
#: so a later change may cite them as counts rather than timings.
EXACT_COUNTERS = ("jobs", "stages", "skipped_stages", "tasks", "input_records",
                  "shuffle_write_bytes", "shuffle_read_bytes")


@dataclass
class Span:
    name: str
    run_id: str
    group: str
    parent: str | None  # group of the enclosing span
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Stage:
    group: str
    job_id: int
    stage_id: int
    attempt: int
    status: str
    name: str
    tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spilled_bytes: int
    peak_exec_mem: int
    submitted_ms: int | None
    completed_ms: int | None
    task_run_ms: list[int]


class Tracer:
    """Keeps spans and stage rows in memory; ``dump`` writes them at the end.

    Opening a span only sets the job group and reads the clock; its stage
    counters are read from the status store when first asked for, after the
    span has ended, so the reads fall outside every span's wall time."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stages: dict[str, list[Stage]] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}:{name}:{len(self.spans)}"
        sp = Span(name, self.run_id, group, parent.group if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def of(self, span: Span) -> list[Stage]:
        if span.group not in self._stages:
            self._stages[span.group] = read_stages(self.sc, span.group)
        return self._stages[span.group]

    def subtree(self, span: Span) -> list[Stage]:
        """Stages of ``span`` and of every span nested inside it."""
        return [st for s in self.spans if s.start >= span.start and s.end <= span.end
                for st in self.of(s)]

    def children(self, span: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span.group and s.name == name]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it covered by its child spans."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == span.group]
        return span.wall - _union(kids)

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "exact_counters": list(EXACT_COUNTERS),
            "spans": [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans],
            "stages": [asdict(st) for s in self.spans for st in self.of(s)],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def read_stages(sc, group: str) -> list[Stage]:
    """Per-stage counters of every job in ``group``.

    Reads ``statusTracker().getJobIdsForGroup`` -> job stage ids ->
    ``statusStore().stageData(id, False, None, False, None)``. The boolean
    arguments must be real booleans: ``None`` there returns all-zero metrics.
    SKIPPED stages (reused shuffle output) report zeros; they are kept with
    their status so a summary can count them apart.
    """
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    rows: list[Stage] = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job_id)
        for sid in (info.stageIds if info else []):
            seq = store.stageData(sid, False, None, False, None)
            for i in range(seq.size()):
                d = seq.apply(i)
                tasks = store.taskList(sid, d.attemptId(), 100_000)
                task_ms = []
                for t in range(tasks.size()):
                    m = tasks.apply(t).taskMetrics()
                    if m.isDefined():
                        task_ms.append(int(m.get().executorRunTime()))
                rows.append(Stage(
                    group=group, job_id=int(job_id), stage_id=int(sid),
                    attempt=int(d.attemptId()), status=d.status().toString(),
                    name=d.name(), tasks=int(d.numCompleteTasks()),
                    run_ms=int(d.executorRunTime()), cpu_ns=int(d.executorCpuTime()),
                    gc_ms=int(d.jvmGcTime()), input_bytes=int(d.inputBytes()),
                    input_records=int(d.inputRecords()),
                    shuffle_write_bytes=int(d.shuffleWriteBytes()),
                    shuffle_read_bytes=int(d.shuffleReadBytes()),
                    spilled_bytes=int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled()),
                    peak_exec_mem=int(d.peakExecutionMemory()),
                    submitted_ms=_opt_ms(d.submissionTime()),
                    completed_ms=_opt_ms(d.completionTime()),
                    task_run_ms=task_ms,
                ))
    return rows


def _opt_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


def _union(intervals: list[tuple[float, float]]) -> float:
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


def jobs(stages: list[Stage]) -> int:
    return len({s.job_id for s in stages})


def summarize(stages: list[Stage], wall: float, cores: int) -> dict:
    """Counters of a set of stages over a wall-clock interval."""
    ran = [s for s in stages if s.status != "SKIPPED"]
    busy = sum(s.run_ms for s in ran) / 1e3
    return {
        "jobs": jobs(stages),
        "stages": len(ran),
        "skipped_stages": len(stages) - len(ran),
        "tasks": sum(s.tasks for s in ran),
        "busy_s": busy,
        "gc_s": sum(s.gc_ms for s in ran) / 1e3,
        "input_records": sum(s.input_records for s in ran),
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in ran) / MB,
        "spill_mb": sum(s.spilled_bytes for s in ran) / MB,
        "peak_exec_mem_mb": max((s.peak_exec_mem for s in ran), default=0) / MB,
        "slot_idle_share": 1.0 - busy / (wall * cores) if wall > 0 else 0.0,
    }


def stage_free_time(stages: list[Stage], start: float, end: float) -> float:
    """Seconds of [start, end] during which no stage of ``stages`` ran:
    driver-side work such as the greedy loop or the ridge path."""
    iv = [(max(s.submitted_ms / 1e3, start), min(s.completed_ms / 1e3, end))
          for s in stages if s.submitted_ms and s.completed_ms]
    return (end - start) - _union([(a, b) for a, b in iv if b > a])


def task_skew(stage: Stage) -> float:
    """max / median task run time of one stage."""
    if not stage.task_run_ms:
        return 0.0
    med = statistics.median(stage.task_run_ms)
    return max(stage.task_run_ms) / med if med > 0 else 0.0
