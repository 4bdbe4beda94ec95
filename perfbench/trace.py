"""Spans recorded around each call into a layer, plus Spark's own job,
stage and task metrics read back from the event log and attributed to the
call through the job group the traced op sets.

Spans live in memory (name, start, end, parent, op id) and are written out
once, at exit. Times are wall-clock seconds so they line up with the
event log's millisecond timestamps.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """`op()` marks one benchmark op as traced: its Spark jobs carry the
    job group `op<id>` and `span()` calls inside it are recorded. Outside
    a traced op, `span()` costs one thread-local read."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span] | None:
        return getattr(self._local, "stack", None)

    @contextmanager
    def op(self, op_id: int, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"op{op_id}", name)
        self._local.stack = []
        try:
            with self.span(name, op_id):
                yield
        finally:
            self._local.stack = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        stack = self._stack()
        if stack is None:
            yield
            return
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), name, parent.op if parent else op_id,
                     parent.id if parent else None, time.time())
            self.spans.append(s)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def self_time(span: Span, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that the child intervals cover."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, span.start), min(hi, span.end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(span.dur - covered, 0.0)


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    first_launch: float | None = None
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_records: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed, from the one application log
    in `log_dir` (Spark writes it fully on SparkContext.stop())."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                j.stages = list(ev["Stage IDs"])
                jobs[j.id] = j
                for s in j.stages:
                    stage_job[s] = j
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                j = stage_job.get(ev["Stage ID"])
                if j is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                launch = info["Launch Time"] / 1000
                j.tasks += 1
                j.first_launch = launch if j.first_launch is None else min(j.first_launch, launch)
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1e3
                inp = m.get("Input Metrics") or {}
                j.input_records += inp.get("Records Read", 0)
                j.input_bytes += inp.get("Bytes Read", 0)
                j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def jobs_by_span(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Attribute each job of a traced op to the innermost of `spans` of that
    op whose interval holds the job's submission."""
    by_op: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        by_op[s.op].append(s)
    out: dict[int, list[Job]] = defaultdict(list)
    for j in jobs:
        if not j.group or not j.group.startswith("op"):
            continue
        cands = [s for s in by_op.get(int(j.group[2:]), [])
                 if s.start - 0.002 <= j.submit <= s.end + 0.002]
        if cands:
            out[min(cands, key=lambda s: s.dur).id].append(j)
    return out
