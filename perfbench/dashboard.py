"""`dashboard`: two clients in a closed loop send a seeded stream of
nyc.api page views over a synthetic NYC dataset, the reference's user
surface. A client sends a view's requests in order (an analytics page is
analytics, then trends of both metrics for the same parcel and window);
each request is one op.

Each request is a handful of small Spark jobs, so per-job fixed cost
(planning, scheduling, driver collects) dominates and scans are small;
Zipf-skewed parcel keys repeat, within a page view and across views, so
result reuse or a layout keyed on hot parcels would show here.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from perfbench import gen, oracle
from perfbench.harness import Ctx, Run, closed_loop
from perfbench.stats import p50
from perfbench.trace import jobs_by_span, read_event_log, self_time

CLIENTS = 2
STREAM_VIEWS = 2000
# Warm pass: one valid-key view of each kind from four threads, the same
# amount of engine work whatever the seed, so every run reaches the timed
# window in the same JIT state.
WARM_CLIENTS = 4


def _call(api, spark, tables, geo_dim, req):
    ep, *a = req
    if ep == "analytics":
        return api.analytics(spark, tables, *a)
    if ep == "bbl_summary":
        return api.bbl_summary(spark, tables, *a)
    if ep == "bbl_trends":
        bbl, start, end, metric = a
        return api.bbl_trends(spark, tables, bbl, start, end, metric=metric)
    if ep == "bookmarks_summary":
        return api.bookmarks_summary(spark, tables, list(a[0]))
    if ep == "export_rows":
        return api.export_rows(spark, tables, *a)
    try:
        return api.compare(spark, tables, geo_dim, *a)
    except api.GeocodeError:
        return "GeocodeError"


def result_rows(resp) -> int:
    """Rows a user receives: list entries anywhere in the response, or
    lines of an export."""
    if isinstance(resp, str):
        return resp.count("\n") + 1 if resp else 0
    if isinstance(resp, dict):
        return sum(result_rows(v) for v in resp.values())
    if isinstance(resp, list):
        return len(resp) + sum(result_rows(v) for v in resp)
    return 0


def _trace_nested_summary(ctx: Ctx, api) -> None:
    """analytics, compare and export_rows call bbl_summary through the
    module; in a traced run that call gets a span of its own."""
    inner = api.bbl_summary

    def bbl_summary(*a, **kw):
        with ctx.tracer.span("nyc.api.bbl_summary"):
            return inner(*a, **kw)

    api.bbl_summary = bbl_summary


def run(ctx: Ctx) -> Run:
    from nyc_analytics_database_platform_spark.nyc import api

    join_session = ctx.start_session_async()
    data_dir = os.path.join(ctx.work, "nyc")
    tables_np = gen.nyc_tables(ctx.seed)
    sizes = gen.write_tables(tables_np, data_dir, gen.NycSize().row_group)
    views = gen.dashboard_views(ctx.seed, tables_np, STREAM_VIEWS)
    warm_views = gen.dashboard_views(ctx.seed + 1_000_003, tables_np, len(gen.VIEW_BLOCK),
                                     bad_every=0)
    warm = [next(v for v in warm_views if gen.view_kind(v) == kind)
            for kind in dict.fromkeys(gen.VIEW_BLOCK)]
    del tables_np
    first_op = [0]
    for v in views:
        first_op.append(first_op[-1] + len(v))
    stream = [req for v in views for req in v]

    join_session()
    spark = ctx.spark
    if ctx.trace:
        _trace_nested_summary(ctx, api)
    tables = {t: spark.read.parquet(os.path.join(data_dir, f"{t}.parquet"))
              for t in sizes if t != "geocode"}
    geo_dim = spark.read.parquet(os.path.join(data_dir, "geocode.parquet"))

    def warm_one(v: int) -> list:
        for req in warm[v]:
            _call(api, spark, tables, geo_dim, req)
        return []

    # JIT, codegen and Python worker start-up land in set-up.
    closed_loop(WARM_CLIENTS, len(warm), warm_one, float("inf"), allow_end=True)
    setup_s = time.perf_counter() - ctx.t0

    responses: dict[int, object] = {}
    rows_by_op: dict[int, int] = {}

    def request(i: int) -> float:
        req = stream[i]
        ctx.outcomes.attempt()
        t = time.perf_counter()
        try:
            if ctx.traced(i):
                with ctx.tracer.op(i, f"op.{req[0]}"), ctx.tracer.span(f"nyc.api.{req[0]}"):
                    responses[i] = _call(api, spark, tables, geo_dim, req)
            else:
                responses[i] = _call(api, spark, tables, geo_dim, req)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            ctx.outcomes.fail(i, f"{req[0]}: {type(e).__name__}: {e}")
        d = time.perf_counter() - t
        ctx.note_resident_rdds()
        return d

    def view(v: int) -> list[tuple[int, float]]:
        return [(i, request(i)) for i in range(first_op[v], first_op[v + 1])]

    ctx.block = first_op[len(gen.VIEW_BLOCK)]  # requests in the first block of views
    lat, elapsed = closed_loop(CLIENTS, len(views), view, ctx.seconds, block=len(gen.VIEW_BLOCK))

    # Correctness, outside the timed region: every response against DuckDB.
    con = oracle.connect(data_dir)
    expected: dict[tuple, object] = {}
    for i, _ in lat:
        req = stream[i]
        if i not in responses:
            continue
        if req not in expected:
            expected[req] = oracle.expected(con, req)
        if not oracle.same(responses[i], expected[req]):
            ctx.outcomes.fail(i, f"{req} differs from the oracle")
        rows_by_op[i] = result_rows(responses[i])
    con.close()

    inputs = {
        "tables": {t: {"rows": r, "bytes": b} for t, (r, b) in sizes.items()},
        "requests": len(lat),
        "distinct_keys_requested": len({k for i, _ in lat for k in _keys(stream[i])}),
        "parcels": gen.NycSize().parcels,
    }
    return Run(lat, elapsed, setup_s, inputs, {"rows_by_op": rows_by_op})


def _keys(req) -> list[str]:
    ep, *a = req
    if ep == "bookmarks_summary":
        return list(a[0])
    if ep == "compare":
        return [" ".join(a[0]), " ".join(a[1])]
    return [a[0]]


def layer_metrics(ctx: Ctx, r: Run, log_dir: str) -> dict[str, float]:
    """Per-layer figures from the traced half of the ops. A call is the
    API function a request enters; bbl_summary is timed where those
    calls make it."""
    spans = ctx.tracer.spans
    ops = {s.id for s in spans if s.parent is None}
    calls = [s for s in spans if s.parent in ops and s.name.startswith("nyc.api.")]
    by_call = jobs_by_span(calls, read_event_log(log_dir))
    out: dict[str, float] = {}
    per_ep: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        per_ep[s.name].append(s.dur)
    for ep in gen.ENDPOINTS:
        out[f"nyc.api.{ep}.p50_s"] = p50(per_ep.get(f"nyc.api.{ep}", []))
    n = max(len(calls), 1)
    call_jobs = [by_call.get(s.id, []) for s in calls]
    out["nyc.api.driver_self_s"] = p50([
        self_time(s, [(j.submit, j.end) for j in js]) for s, js in zip(calls, call_jobs)])
    out["nyc.api.spark_jobs_per_call"] = sum(len(js) for js in call_jobs) / n
    out["nyc.api.spark_tasks_per_call"] = sum(j.tasks for js in call_jobs for j in js) / n
    out["nyc.api.executor_cpu_s"] = sum(j.cpu_s for js in call_jobs for j in js) / n
    waits = [j.first_launch - j.submit for js in call_jobs for j in js if j.first_launch]
    out["nyc.api.job_wait_s"] = p50(waits)
    records = sum(j.input_records for js in call_jobs for j in js)
    rows = sum(r.extra["rows_by_op"].get(s.op, 0) for s in calls)
    out["nyc.api.input_records_per_result_row"] = records / max(rows, 1)
    return out
