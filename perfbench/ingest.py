"""`ingest`: one writer drives a seeded stream of 311-style service_request
batches into an operators.txnlog table, with reads interleaved.

The only workload that writes. Writes (8 of every 13 ops): appends,
delete_where_mor of closed requests, delete_range_cow of an id range, and
the maintenance ops optimize_files, purge_deletes and vacuum. Reads (5 of
13): read_version at head plus a per-parcel aggregate, and changes_between
since the last read, like a CDC consumer. The reads
go through the same scan layer under a growing file list and delete set,
so a read-path gain that costs writes or space shows here.

The loop runs whole 13-op cycles until --seconds have passed, so every
run measures the same op mix. Staging a batch and checking a result are
left out of the timed window.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Ctx, Run, closed_loop
from perfbench.stats import p50, percentile
from perfbench.trace import jobs_by_span, read_event_log, self_time

BATCH_ROWS = 5_000
INITIAL_BATCHES = 4
PARCELS = 2_000
MAX_CYCLES = 200
# How many batches back each delete reaches: about half the table's age
# when timing starts (4 initial batches, then 3 per cycle).
MOR_AGE = 3
COW_AGE = 5
WRITES = ("append", "delete_where_mor", "delete_range_cow", "optimize_files",
          "purge_deletes", "vacuum")
READS = ("read_version", "changes_between")
KEY = "service_request_id"


class Model:
    """The live rows the table must hold, kept in numpy beside the writer."""

    def __init__(self) -> None:
        self.ids = np.zeros(0, np.int64)
        self.gid = np.zeros(0, np.int64)
        self.status = np.zeros(0, object)
        self.alive = np.zeros(0, bool)

    def add(self, t) -> None:
        self.ids = np.concatenate([self.ids, t[KEY].to_numpy()])
        self.gid = np.concatenate([self.gid, t["geographic_id"].to_numpy()])
        self.status = np.concatenate([self.status, np.array(t["status"].to_pylist(), object)])
        self.alive = np.concatenate([self.alive, np.ones(t.num_rows, bool)])

    def status_counts(self, gid: int) -> dict[str, int]:
        m = self.alive & (self.gid == gid)
        vals, counts = np.unique(self.status[m].astype(str), return_counts=True)
        return dict(zip(vals.tolist(), counts.tolist()))


class Table:
    """The table under test plus the bookkeeping the checks and metrics need."""

    def __init__(self, ctx: Ctx, root: str, landing: str) -> None:
        from nyc_analytics_database_platform_spark.operators import txnlog

        self.ctx, self.root, self.landing, self.t = ctx, root, landing, txnlog
        self.model = Model()
        self.batches = 0
        self.r = gen.rng_for(ctx.seed, f"ingest-{os.path.basename(root)}")
        self.cdc_version = 0
        self.cdc_alive = np.zeros(0, bool)
        self.seen: dict[str, int] = {}
        self.created_bytes = 0
        self.append_bytes = 0
        self.commits = 0
        self.cow_carried = 0
        self.cow_considered = 0
        self.conflicts = 0
        self.head_files: list[int] = []
        self.pending_dv: list[int] = []
        self.checks: list[tuple[int, str, object, object]] = []

    # -- op preparation, outside the timed region
    def stage_batch(self) -> str:
        first = len(self.model.ids) + 1
        tbl = gen.ingest_batch(self.ctx.seed, self.batches, first, BATCH_ROWS, PARCELS)
        path = os.path.join(self.landing, f"batch-{self.batches:05d}.parquet")
        pq.write_table(tbl, path)
        self.batches += 1
        self.model.add(tbl)
        return path

    def old_batch_range(self, age: int) -> tuple[int, int]:
        """Id range of the batch appended `age` batches before the newest,
        or of the nearest older one that still has live rows. The age is
        fixed, not seeded, so an op touches files of the same kind (a
        compacted file or a fresh batch) in every run."""
        for b in range(self.batches - 1 - age, -1, -1):
            lo = b * BATCH_ROWS + 1
            if self.model.alive[lo - 1: lo - 1 + BATCH_ROWS].any():
                return lo, lo + BATCH_ROWS
        return 1, self.batches * BATCH_ROWS + 1

    # -- the ops
    def run_op(self, op: str, arg) -> object:
        spark, t, root = self.ctx.spark, self.t, self.root
        from pyspark.sql import functions as F

        if op == "append":
            return t.append(spark, root, spark.read.parquet(arg), range_col=KEY, n_files=1)
        if op == "delete_where_mor":
            lo, hi = arg
            return t.delete_where_mor(
                spark, root, [KEY],
                (F.col("status") == "Closed") & (F.col(KEY) >= lo) & (F.col(KEY) < hi))
        if op == "delete_range_cow":
            lo, hi = arg
            return t.delete_range_cow(spark, root, KEY, lo, hi)
        if op == "optimize_files":
            return t.optimize_files(spark, root, arg, KEY, n_files=2)
        if op == "purge_deletes":
            return t.purge_deletes(spark, root, KEY)
        if op == "vacuum":
            return t.vacuum(root, keep_last=2, extra_pins={self.cdc_version})
        if op == "read_version":
            return [tuple(r) for r in t.read_version(spark, root)
                    .filter(F.col("geographic_id") == arg)
                    .groupBy("status").count().collect()]
        v_to = t.latest_version(root)
        rows = (t.changes_between(spark, root, self.cdc_version, v_to, [KEY])
                .groupBy("change_type").count().collect())
        return v_to, {r[0]: r[1] for r in rows}

    def prepare(self, op: str):
        """Pick the op's argument and apply its effect to the model; returns
        (argument, expected result or None)."""
        m = self.model
        if op == "append":
            return self.stage_batch(), None
        if op == "delete_where_mor":
            lo, hi = self.old_batch_range(MOR_AGE)
            sel = slice(lo - 1, hi - 1)
            m.alive[sel] &= m.status[sel] != "Closed"
            return (lo, hi), None
        if op == "delete_range_cow":
            lo, hi = self.old_batch_range(COW_AGE)
            width = int(self.r.integers(200, 1000))
            start = int(self.r.integers(lo, hi - width))
            m.alive[start - 1: start - 1 + width] = False
            return (start, start + width), None
        if op == "optimize_files":
            head = self.t.read_entry(self.root, self.t.latest_version(self.root))
            small = [f for f in head["files"] if "-opt-" not in f]
            return small or head["files"][:2], None
        if op in ("purge_deletes", "vacuum"):
            return None, None
        if op == "read_version":
            gid = int(self.r.integers(1, 6))  # the hottest parcels
            return gid, m.status_counts(gid)
        n = len(m.alive)
        then = np.zeros(n, bool)
        then[: len(self.cdc_alive)] = self.cdc_alive
        return None, {"insert": int((m.alive & ~then).sum()), "delete": int((then & ~m.alive).sum())}

    def after(self, op: str, result, expected, idx: int = -1) -> None:
        """Untimed bookkeeping after an op: checks, created bytes, state."""
        if op == "read_version":
            self.checks.append((idx, op, dict(result), expected))
        elif op == "changes_between":
            v_to, counts = result
            got = {"insert": counts.get("insert", 0), "delete": counts.get("delete", 0)}
            self.checks.append((idx, op, got, expected))
            self.cdc_version = v_to
            self.cdc_alive = self.model.alive.copy()
        elif op == "delete_range_cow":
            stats = result[1]
            self.cow_carried += stats["n_carried"]
            self.cow_considered += stats["n_parent_files"]
        if self.ctx.trace:
            new = self._new_files()
            self.created_bytes += sum(new.values())
            self.commits += sum(k.endswith(".json") for k in new)
            if op == "append":
                self.append_bytes += sum(v for k, v in new.items() if k.endswith(".parquet"))
            if op in READS:
                head = self.t.read_entry(self.root, self.t.latest_version(self.root))
                self.head_files.append(len(head["files"]))
                self.pending_dv.append(len(head.get("delete_files", [])))

    def start_counting(self) -> None:
        """Leave set-up out of the checks and the per-layer counts."""
        self._new_files()
        self.checks = []
        self.created_bytes = self.append_bytes = self.commits = 0
        self.cow_carried = self.cow_considered = 0
        self.head_files, self.pending_dv = [], []

    def _new_files(self) -> dict[str, int]:
        new = {}
        for d, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.seen:
                    try:
                        self.seen[p] = new[p] = os.path.getsize(p)
                    except OSError:
                        continue
        return new

    def final_check(self) -> list[str]:
        head = self.t.latest_version(self.root)
        got = np.sort(np.array([r[0] for r in self.t.read_version(self.ctx.spark, self.root)
                                .select(KEY).collect()], np.int64))
        want = self.model.ids[self.model.alive]
        errors = []
        if not np.array_equal(got, want):
            errors.append(f"head v{head} holds {len(got)} rows, expected {len(want)}")
        if not self.t.chain_intact(self.root):
            errors.append("chain_intact is false")
        return errors


def _new_table(ctx: Ctx, name: str, batches: int) -> Table:
    root = os.path.join(ctx.work, name)
    landing = os.path.join(ctx.work, f"{name}-landing")
    os.makedirs(landing)
    table = Table(ctx, root, landing)
    for _ in range(batches):
        table.run_op("append", table.stage_batch())
    table.cdc_version = table.t.latest_version(root)
    table.cdc_alive = table.model.alive.copy()
    return table


def run(ctx: Ctx) -> Run:
    ctx.start_session()
    ops = gen.ingest_ops(MAX_CYCLES)
    table = _new_table(ctx, "table", INITIAL_BATCHES)
    # Warm pass: one whole cycle on the table itself, so the timed cycles
    # start from the state later cycles keep (a compacted, vacuumed table,
    # warm JIT); a shorter warm-up left the first timed cycle ~20% slower.
    for op in gen.INGEST_CYCLE:
        arg, expected = table.prepare(op)
        table.after(op, table.run_op(op, arg), expected)
    for _, op, got, want in table.checks:
        if got != want:
            raise AssertionError(f"warm-up {op}: got {got}, expected {want}")
    table.start_counting()
    setup_s = time.perf_counter() - ctx.t0

    kinds: dict[int, str] = {}
    ctx.block = len(gen.INGEST_CYCLE)

    def execute(i: int) -> list[tuple[int, float]]:
        """One op: staging its input and recording its result are untimed."""
        op = kinds[i] = ops[i]
        ctx.outcomes.attempt()
        timed = []
        try:
            arg, expected = table.prepare(op)
            t = time.perf_counter()
            if ctx.traced(i):
                with ctx.tracer.op(i, f"op.{op}"), ctx.tracer.span(f"operators.txnlog.{op}"):
                    result = table.run_op(op, arg)
            else:
                result = table.run_op(op, arg)
            timed.append((i, time.perf_counter() - t))
            table.after(op, result, expected, i)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            if type(e).__name__ == "CommitConflict":
                table.conflicts += 1
            ctx.outcomes.fail(i, f"{op}: {type(e).__name__}: {e}")
        ctx.note_resident_rdds()
        return timed

    lat, elapsed = closed_loop(1, len(ops), execute, ctx.seconds, block=len(gen.INGEST_CYCLE))

    # Correctness, outside the timed region.
    for idx, op, got, want in table.checks:
        if got != want:
            ctx.outcomes.fail(idx, f"{op}: got {got}, expected {want}")
    # The head snapshot check counts as one more op.
    ctx.outcomes.attempt()
    errors = table.final_check()
    if errors:
        ctx.outcomes.fail(len(kinds), "; ".join(errors))

    inputs = {
        "batch_rows": BATCH_ROWS,
        "initial_rows": INITIAL_BATCHES * BATCH_ROWS,
        "appended_rows": (table.batches - INITIAL_BATCHES) * BATCH_ROWS,
        "ops": len(lat),
        "head_version": table.t.latest_version(table.root),
    }
    return Run(lat, elapsed, setup_s, inputs, {"table": table, "kinds": kinds})


def layer_metrics(ctx: Ctx, r: Run, log_dir: str) -> dict[str, float]:
    table: Table = r.extra["table"]
    kinds: dict[int, str] = r.extra["kinds"]
    spans = ctx.tracer.spans
    calls = [s for s in spans if s.name.startswith("operators.txnlog.")]
    by_call = jobs_by_span(calls, read_event_log(log_dir))
    out: dict[str, float] = {}
    durs: dict[str, list[float]] = defaultdict(list)
    for s in calls:
        durs[s.name.rsplit(".", 1)[1]].append(s.dur)
    for op in WRITES + READS:
        out[f"operators.txnlog.{op}.p50_s"] = p50(durs.get(op, []))
    writes = [d for i, d in r.lat if kinds[i] in WRITES]
    reads = [d for i, d in r.lat if kinds[i] in READS]
    for name, xs in (("write", writes), ("read", reads)):
        out[f"operators.txnlog.{name}_p50_s"] = percentile(xs, 50)
        out[f"operators.txnlog.{name}_p90_s"] = percentile(xs, 90)
    write_calls = [s for s in calls if s.name.rsplit(".", 1)[1] in WRITES]
    out["operators.txnlog.spark_jobs_per_write"] = (
        sum(len(by_call.get(s.id, [])) for s in write_calls) / max(len(write_calls), 1))
    out["operators.txnlog.driver_self_s"] = p50([
        self_time(s, [(j.submit, j.end) for j in by_call.get(s.id, [])]) for s in calls])
    out["operators.txnlog.cow_prune_ratio"] = table.cow_carried / max(table.cow_considered, 1)
    out["operators.txnlog.head_files"] = float(np.mean(table.head_files)) if table.head_files else 0.0
    out["operators.txnlog.pending_delete_files"] = (
        float(np.mean(table.pending_dv)) if table.pending_dv else 0.0)
    out["operators.txnlog.bytes_written_per_commit"] = table.created_bytes / max(table.commits, 1)
    out["operators.txnlog.write_amp"] = table.created_bytes / max(table.append_bytes, 1)
    out["operators.txnlog.commit_conflicts"] = float(table.conflicts)
    return out
