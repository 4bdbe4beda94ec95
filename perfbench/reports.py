"""`reports`: one client runs a fixed set of registry queries, each
materialised the way a user receives it, over seeded star-schema data.

Every pass runs the set once, in a seeded order, over a dataset of its own
that no earlier pass read, so no timed input repeats and the result reuse
that `dashboard` rewards cannot help here; the program's persisted layouts
are built afresh for each pass's data. The set holds queries of every
family (graph, llm, lifecycle, relational), so scans, joins, shuffles,
iterative graph jobs and the LLM operators all run.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.harness import Ctx, Run, closed_loop
from perfbench.stats import p50
from perfbench.trace import jobs_by_span, read_event_log, self_time

# A fixed subset of the registry: every family, one pass of which takes
# about 7 s on 4 cores, so a 12 s run measures two whole passes (the 29
# bench=True queries alone take ~30 s warm). kcore_cosupply_members runs
# operators.graph.kcore_members, whose per-round localCheckpoint frames stay
# persisted after the call; scd2_point_in_time_bucketed builds a persisted
# layout.
QUERIES = (
    "kcore_cosupply_members",            # graph
    "graph_degree_stats",                # graph
    "text_token_stats",                  # llm
    "ann_bruteforce_top10",              # llm
    "scd2_point_in_time_bucketed",       # lifecycle
    "stream_tumbling_event_counts",      # lifecycle
    "tpch_q1_pricing_summary",           # relational
    "tpch_q3_shipping_priority",         # relational
    "month_spine_zero_fill",             # relational
)
FAMILIES = ("graph", "llm", "lifecycle", "relational")
SIZE = gen.RegistrySize()
MAX_PASSES = 100


def family(spec) -> str:
    """A query's family, from the module that defines it."""
    mod = spec.fn.__module__.rsplit(".", 1)[1]
    if mod.startswith("llm_"):
        return "llm"
    if mod == "graph_analytics":
        return "graph"
    if mod == "parity_lifecycle" or mod.startswith("streaming_"):
        return "lifecycle"
    if mod.startswith("parity_"):
        return "relational"
    raise ValueError(f"{spec.name} is in no family ({mod})")


def pass_order(seed: int, p: int) -> list[str]:
    """The seeded order of pass `p`'s queries."""
    r = gen.rng_for(seed, f"reports-{p}")
    return [QUERIES[i] for i in r.permutation(len(QUERIES))]


class _Result:
    """A materialised result in the shape verify.compare reads, so the
    check does not run the query again."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns, self._rows = columns, rows

    def collect(self) -> list:
        return self._rows


def _dataset(ctx: Ctx, name: str, seed: int) -> tuple[str, dict]:
    path = os.path.join(ctx.work, name)
    return path, gen.write_tables(gen.registry_tables(seed, SIZE), path, 131_072)


def _count_builds(ctx: Ctx, layouts) -> None:
    """Every persisted layout records its completed build with
    layouts.mark_fresh; a traced run counts those calls."""
    inner = layouts.mark_fresh

    def mark_fresh(*a, **kw):
        ctx.layer["layouts.artifacts_built"] = ctx.layer.get("layouts.artifacts_built", 0) + 1
        return inner(*a, **kw)

    layouts.mark_fresh = mark_fresh


def _artifact_bytes(tmp: str) -> int:
    total = 0
    for d in os.listdir(tmp):
        if d.startswith("spark_graft_"):
            for root, _, files in os.walk(os.path.join(tmp, d)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run(ctx: Ctx) -> Run:
    from nyc_analytics_database_platform_spark import layouts, registry, verify

    join_session = ctx.start_session_async()
    specs = {n: registry.get(n) for n in QUERIES}
    warm_dir, sizes = _dataset(ctx, "warm", ctx.seed + 1_000_003)
    join_session()
    spark = ctx.spark
    # JIT, codegen and Python worker start-up land in set-up.
    for name in QUERIES:
        specs[name].fn(spark, warm_dir).collect()
    if ctx.trace:
        _count_builds(ctx, layouts)
        ctx.layer["layouts.artifacts_built"] = 0
    setup_s = time.perf_counter() - ctx.t0

    n = len(QUERIES)
    ctx.block = n
    dirs: dict[int, str] = {}
    orders: dict[int, list[str]] = {}
    results: dict[int, tuple] = {}
    build_exec: dict[int, tuple[float, float]] = {}

    def execute(i: int) -> list[tuple[int, float]]:
        p, k = divmod(i, n)
        if k == 0:  # the pass's own data, staged untimed
            dirs[p] = _dataset(ctx, f"pass{p}", ctx.seed * 1_000 + p)[0]
            orders[p] = pass_order(ctx.seed, p)
        name = orders[p][k]
        spec, data = specs[name], dirs[p]
        fam = family(spec)
        ctx.outcomes.attempt()
        timed = []
        try:
            t0 = time.perf_counter()
            if ctx.traced(p * n + QUERIES.index(name)):
                with ctx.tracer.op(i, f"op.{name}"):
                    with ctx.tracer.span(f"queries.{fam}.build"):
                        df = spec.fn(spark, data)
                    t1 = time.perf_counter()
                    with ctx.tracer.span(f"queries.{fam}.exec"):
                        rows = df.collect()
            else:
                df = spec.fn(spark, data)
                t1 = time.perf_counter()
                rows = df.collect()
            t2 = time.perf_counter()
            timed.append((i, t2 - t0))
            build_exec[i] = (t1 - t0, t2 - t1)
            results[i] = (name, data, _Result(list(df.columns), rows))
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            ctx.outcomes.fail(i, f"{name}: {type(e).__name__}: {e}")
        ctx.note_resident_rdds()
        return timed

    lat, elapsed = closed_loop(1, MAX_PASSES * n, execute, ctx.seconds, block=n)
    if ctx.trace:
        ctx.layer["layouts.artifact_bytes"] = float(_artifact_bytes(os.environ["TMPDIR"]))

    # Correctness, outside the timed region: each result against its
    # registry oracle in DuckDB over the same parquet, four at a time (the
    # k-core oracle alone takes ~4 s).
    def check(item):
        i, (name, data, got) = item
        return i, name, verify.compare(name, got, specs[name].oracle, data)

    with ThreadPoolExecutor(4) as pool:
        for i, name, res in pool.map(check, results.items()):
            if not res.ok:
                ctx.outcomes.fail(i, f"{name}: {res.detail}")

    inputs = {
        "tables": {t: {"rows": r, "bytes": b} for t, (r, b) in sizes.items()},
        "passes": len(dirs),
        "queries": len(lat),
    }
    fams = {i: family(specs[results[i][0]]) for i in results}
    return Run(lat, elapsed, setup_s, inputs, {"build_exec": build_exec, "families": fams})


def layer_metrics(ctx: Ctx, r: Run, log_dir: str) -> dict[str, float]:
    """Per-family figures: build and exec times over every op, Spark's job
    metrics over the traced half, per query run."""
    spans = ctx.tracer.spans
    parts = [s for s in spans if s.name.startswith("queries.")]
    by_part = jobs_by_span(parts, read_event_log(log_dir))
    fams: dict[int, str] = r.extra["families"]
    out: dict[str, float] = {}
    for f in FAMILIES:
        ops = [i for i, fam in fams.items() if fam == f]
        out[f"queries.{f}.build_s"] = p50([r.extra["build_exec"][i][0] for i in ops])
        out[f"queries.{f}.exec_s"] = p50([r.extra["build_exec"][i][1] for i in ops])
        traced = {s.op for s in parts if s.name.startswith(f"queries.{f}.")}
        jobs = [j for s in parts if s.op in traced for j in by_part.get(s.id, [])]
        k = max(len(traced), 1)
        out[f"queries.{f}.spark_jobs"] = len(jobs) / k
        out[f"queries.{f}.executor_cpu_s"] = sum(j.cpu_s for j in jobs) / k
        out[f"queries.{f}.gc_s"] = sum(j.gc_s for j in jobs) / k
        out[f"queries.{f}.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in jobs) / k
        out[f"queries.{f}.input_bytes"] = sum(j.input_bytes for j in jobs) / k
        out[f"queries.{f}.spill_bytes"] = sum(j.spill_bytes for j in jobs) / k
    ops = [s for s in spans if s.parent is None]
    op_jobs: dict[int, list] = {}
    for s in parts:
        op_jobs.setdefault(s.op, []).extend(by_part.get(s.id, []))
    out["queries.driver_self_s"] = p50([
        self_time(s, [(j.submit, j.end) for j in op_jobs.get(s.op, [])]) for s in ops])
    cpu = sum(j.cpu_s for js in by_part.values() for j in js)
    wall = sum(s.dur for s in ops)
    out["queries.core_util"] = cpu / (wall * ctx.cpus) if wall else 0.0
    return out
