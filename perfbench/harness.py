"""What every workload shares: the run context, the Spark session, the
closed loop, process memory, and the per-op bookkeeping."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from perfbench.stats import Outcomes, median, percentile
from perfbench.trace import Tracer


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str          # per-run scratch dir inside the checkout, removed at exit
    t0: float          # perf_counter at process start
    cpus: int
    block: int = 1     # ops per block of the workload's stream
    spark: object = None
    tracer: Tracer | None = None
    outcomes: Outcomes = field(default_factory=Outcomes)
    layer: dict = field(default_factory=dict)   # per-layer metric values
    resident_rdds: list = field(default_factory=list)

    def start_session(self) -> None:
        from nyc_analytics_database_platform_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=self.cpus)
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.tracer = Tracer(self.spark)

    def start_session_async(self):
        """Start the JVM in a thread while the caller builds inputs;
        returns a join() that re-raises a start-up failure."""
        box: dict = {}

        def go() -> None:
            try:
                self.start_session()
            except BaseException as e:  # noqa: BLE001 - re-raised by join()
                box["e"] = e

        th = threading.Thread(target=go, name="session")
        th.start()

        def join() -> None:
            th.join()
            if "e" in box:
                raise box["e"]

        return join

    def traced(self, slot: int) -> bool:
        """In a traced run every other op is traced: slot k of a stream is
        position k % block of block k // block, and the traced positions
        alternate from block to block so every position is traced in turn.
        The untraced half measures the tracing overhead in the same process."""
        return self.trace and (slot % self.block + slot // self.block) % 2 == 0

    def note_resident_rdds(self) -> None:
        if self.trace:
            n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.resident_rdds.append(n)


@dataclass
class Run:
    """A finished run: (op index, latency) of every timed op, the timed
    window, set-up time, input sizes, and what layer_metrics needs."""

    lat: list[tuple[int, float]]
    elapsed: float
    setup_s: float
    inputs: dict
    extra: dict = field(default_factory=dict)

    def p(self, q: float) -> float:
        return percentile([d for _, d in self.lat], q)

    def overhead(self, ctx: Ctx) -> float:
        """Tracing overhead: median latency of traced ops minus that of
        untraced ops in the same run."""
        traced = {s.op for s in ctx.tracer.spans if s.parent is None}
        on = [d for i, d in self.lat if i in traced]
        off = [d for i, d in self.lat if i not in traced]
        return median(on) - median(off) if on and off else 0.0


def closed_loop(clients: int, n_items: int, execute, seconds: float,
                allow_end: bool = False, block: int = 1) -> tuple[list[tuple[int, float]], float]:
    """`clients` threads each take the next item only after their previous
    one completes, until `seconds` have passed (or, with `allow_end`, the
    items run out). An item is one op or a group a user issues in sequence
    (a page view's requests); `execute(i)` runs item i, must not raise, and
    returns [(op id, latency)] of the ops it timed. Items are issued in
    whole blocks of `block`: a block begun before the deadline is
    finished, so every run measures whole blocks.

    Returns ([(op id, latency)], window): the timed window less the time
    the clients spent outside their timed ops (staging inputs, recording
    results), so a throughput over the window is the program's own."""
    lock = threading.Lock()
    state = {"next": 0, "untimed": 0.0}
    lat: list[tuple[int, float]] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client() -> None:
        while True:
            with lock:
                i = state["next"]
                if i >= n_items or (i % block == 0 and time.perf_counter() >= deadline):
                    return
                state["next"] = i + 1
            t = time.perf_counter()
            timed = execute(i)
            wall = time.perf_counter() - t
            with lock:
                lat.extend(timed)
                state["untimed"] += wall - sum(d for _, d in timed)

    threads = [threading.Thread(target=client, name=f"client{c}") for c in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if state["next"] >= n_items and not allow_end:
        raise RuntimeError(f"stream of {n_items} items ran out before {seconds}s")
    elapsed = time.perf_counter() - start
    return sorted(lat), elapsed - state["untimed"] / clients


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    process under it: the JVM and its Python workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
