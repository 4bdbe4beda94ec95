"""Tests for the benchmark's pure parts: seeded inputs, the percentile
helper, failure counting, span arithmetic, event-log attribution, and the
metric names the runs print. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import threading
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import dashboard, gen, ingest, oracle, reports  # noqa: E402
from perfbench.harness import Ctx, Run, closed_loop  # noqa: E402
from perfbench.stats import (  # noqa: E402
    NAME_RE, Outcomes, betainc, declared_metrics, percentile, result_line)
from perfbench.trace import Span, Tracer, jobs_by_span, read_event_log, self_time  # noqa: E402

SMALL = gen.NycSize(parcels=500, properties=600, sales=1_000, requests=5_000, row_group=2_000)


def _digest(tables, tmp_path, name) -> dict[str, str]:
    out = tmp_path / name
    gen.write_tables(tables, str(out), SMALL.row_group)
    return {f: hashlib.sha256((out / f).read_bytes()).hexdigest() for f in sorted(os.listdir(out))}


def test_same_seed_gives_byte_identical_datasets(tmp_path):
    a = _digest(gen.nyc_tables(7, SMALL), tmp_path, "a")
    b = _digest(gen.nyc_tables(7, SMALL), tmp_path, "b")
    c = _digest(gen.nyc_tables(8, SMALL), tmp_path, "c")
    assert a == b
    assert a["service_request.parquet"] != c["service_request.parquet"]
    assert a["sale.parquet"] != c["sale.parquet"]


def test_same_seed_gives_identical_request_streams():
    t7 = gen.nyc_tables(7, SMALL)
    assert gen.dashboard_views(7, t7, 300) == gen.dashboard_views(7, t7, 300)
    assert gen.dashboard_views(7, t7, 300) != gen.dashboard_views(8, t7, 300)


def test_view_mix_is_fixed_per_block_and_pages_fetch_their_trends():
    views = gen.dashboard_views(3, gen.nyc_tables(3, SMALL), 60)
    for b in range(10):
        block = sorted(gen.view_kind(v) for v in views[b * 6:(b + 1) * 6])
        assert block == sorted(gen.VIEW_BLOCK)
    pages = [v for v in views if v[0][0] == "analytics"]
    for b in range(10):  # a block's analytics pages cover the windows once each
        assert sorted(v[0][2:] for v in pages[b * 3:(b + 1) * 3]) == sorted(gen.WINDOWS)
    for v in pages:
        # the page's two /trends fetches: same parcel and window, one per metric
        _, key, start, end = v[0]
        assert v[1:] == tuple(("bbl_trends", key, start, end, m) for m in gen.TRENDS_METRICS)


def _bad(key: str) -> bool:
    return oracle.parse_bbl(key) is None or int(key.split("-")[2]) > 60


def test_request_stream_has_bad_keys_and_repeats():
    views = gen.dashboard_views(5, gen.nyc_tables(5, SMALL), 1_200)
    for g in range(0, 1_200, 12):  # one bad key in every two blocks, on an export
        bad = [v for v in views[g:g + 12] if v[0][0] != "compare" and v[0][0] != "bookmarks_summary"
               and _bad(v[0][1])]
        assert len(bad) == 1 and bad[0][0][0] == "export_rows"
    reqs = [r for v in views for r in v]
    keys = [r[1] for r in reqs if r[0] in ("analytics", "bbl_trends", "export_rows")]
    assert len(set(keys)) < len(keys) / 2  # Zipf: hot keys repeat
    marks = [r[1] for r in reqs if r[0] == "bookmarks_summary"]
    assert all(5 <= len(m) <= 10 and not any(_bad(k) for k in m) for m in marks)
    # Each list names a parcel once while the program miscounts repeats
    # (test_known_defects.py); the oracle already answers repeats per entry.
    assert all(len(set(m)) == len(m) for m in marks) == gen.DISTINCT_BOOKMARKS


def test_oracle_answers_a_repeated_bookmark_once_per_entry(tmp_path):
    tables = gen.nyc_tables(5, SMALL)
    gen.write_tables(tables, str(tmp_path), SMALL.row_group)
    geo = tables["geographic_area"]
    a, b = (f"{geo['borough_code'][i]}-{geo['block_code'][i]}-{geo['lot_code'][i]}" for i in (0, 1))
    con = oracle.connect(str(tmp_path))
    once = oracle.bookmarks(con, (a, b))
    twice = oracle.bookmarks(con, (a, b, a))
    con.close()
    assert twice == once + once[:1]


def test_same_seed_gives_byte_identical_registry_data(tmp_path):
    def digest(seed, name):
        out = tmp_path / name
        gen.write_tables(gen.registry_tables(seed), str(out), 131_072)
        return {f: hashlib.sha256((out / f).read_bytes()).hexdigest() for f in sorted(os.listdir(out))}

    a, b, c = digest(3, "a"), digest(3, "b"), digest(4, "c")
    assert a == b
    assert all(a[f] != c[f] for f in ("lineitem.parquet", "documents.parquet", "embeddings.parquet"))


def test_reports_cover_every_family_with_an_oracle():
    from nyc_analytics_database_platform_spark import registry

    specs = [registry.get(n) for n in reports.QUERIES]
    assert {reports.family(s) for s in specs} == set(reports.FAMILIES)
    assert all(s.oracle for s in specs)
    assert reports.pass_order(1, 0) == reports.pass_order(1, 0)
    assert sorted(reports.pass_order(1, 0)) == sorted(reports.QUERIES)
    assert reports.pass_order(1, 0) != reports.pass_order(2, 0)


def test_closed_loop_runs_whole_blocks_and_leaves_untimed_work_out():
    def execute(i):
        time.sleep(0.01)  # staging, outside the op
        t = time.perf_counter()
        time.sleep(0.02)
        return [(i, time.perf_counter() - t)]

    lat, window = closed_loop(1, 100, execute, 0.05, block=4)
    assert len(lat) % 4 == 0 and len(lat) >= 4
    assert window == pytest.approx(sum(d for _, d in lat), rel=0.2)
    with pytest.raises(RuntimeError):
        closed_loop(1, 3, execute, 10.0)
    lat, _ = closed_loop(2, 3, execute, 10.0, allow_end=True)
    assert [i for i, _ in lat] == [0, 1, 2]


def test_same_seed_gives_identical_ingest_batches():
    a = gen.ingest_batch(4, 3, 1, 1_000, 200)
    assert a.equals(gen.ingest_batch(4, 3, 1, 1_000, 200))
    assert not a.equals(gen.ingest_batch(5, 3, 1, 1_000, 200))
    assert not a.equals(gen.ingest_batch(4, 4, 1, 1_000, 200))


def test_ingest_cycle_mix():
    ops = gen.ingest_ops(6)
    n = len(gen.INGEST_CYCLE)
    for c in range(6):
        cycle = ops[c * n:(c + 1) * n]
        assert sum(o in ingest.WRITES for o in cycle) == 8
        assert sum(o in ingest.READS for o in cycle) == 5
        assert set(cycle) == set(ingest.WRITES + ingest.READS)


@pytest.mark.parametrize("a,b", [(1, 1), (2, 3), (5, 1), (7, 7), (13, 13), (1, 20)])
def test_betainc_matches_the_binomial_tail(a, b):
    n = a + b - 1
    for x in (0.01, 0.2, 0.5, 0.77, 0.99):
        tail = sum(math.comb(n, j) * x ** j * (1 - x) ** (n - j) for j in range(a, n + 1))
        assert betainc(a, b, x) == pytest.approx(tail, abs=1e-12)


def test_percentile_is_a_smooth_order_statistic_estimate():
    assert percentile([3.0], 50) == 3.0
    assert percentile([2.0] * 7, 75) == pytest.approx(2.0)
    assert percentile([1.0, 2.0, 3.0], 50) == pytest.approx(2.0)
    assert (percentile([4.0, 1.0, 9.0], 0), percentile([4.0, 1.0, 9.0], 100)) == (1.0, 9.0)
    xs = list(np.random.default_rng(1).random(20))
    qs = [percentile(xs, q) for q in (10, 25, 50, 75, 90)]
    assert qs == sorted(qs) and min(xs) < qs[0] and qs[-1] < max(xs)
    big = list(np.random.default_rng(2).random(5_000))
    assert percentile(big, 90) == pytest.approx(0.9, abs=0.02)
    # Two clusters split evenly: the median sits between them, not on either edge.
    assert percentile([0.5] * 12 + [1.5] * 12, 50) == pytest.approx(1.0)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_fail_ratio_counts_each_op_once():
    o = Outcomes()
    for _ in range(10):
        o.attempt()
    o.fail(3, "raised")
    o.fail(3, "and its output was wrong")
    o.fail(7, "wrong output")
    assert (o.attempted, o.failed, o.fail_ratio) == (10, 2, 0.2)


def test_outcomes_under_threads():
    o = Outcomes()

    def work(k):
        for i in range(500):
            o.attempt()
            if i % 5 == 0:
                o.fail(k * 1000 + i, "x")

    ts = [threading.Thread(target=work, args=(k,)) for k in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
        assert not t.is_alive()
    assert (o.attempted, o.failed) == (4000, 800)


def test_declared_metric_names_are_valid_and_unique():
    spec = json.load(open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")))
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_result_line_rejects_undeclared_or_missing_metrics():
    units = declared_metrics("end_to_end")
    o = Outcomes()
    o.attempt()
    line = json.loads(result_line(o, {n: 1.5 for n in units}, units))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["attempted"] == 1
    with pytest.raises(KeyError):
        result_line(o, {**{n: 1.0 for n in units}, "extra": 1.0}, units)
    with pytest.raises(KeyError):
        result_line(o, {}, units)
    with pytest.raises(RuntimeError):
        result_line(Outcomes(), {n: 1.0 for n in units}, units)


def test_self_time_subtracts_the_union_of_children():
    s = Span(0, "x", 0, None, 10.0, 20.0)
    assert self_time(s, []) == 10.0
    assert self_time(s, [(11, 13), (12, 14), (16, 17)]) == pytest.approx(6.0)
    assert self_time(s, [(5, 12), (19, 25)]) == pytest.approx(7.0)


class _FakeSC:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, k, v):
        self.props[k] = v


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSC()


def test_tracer_records_only_inside_traced_ops():
    t = Tracer(_FakeSpark())
    with t.span("ignored"):
        pass
    with t.op(4, "op.x"), t.span("layer.call"):
        with t.span("layer.inner"):
            assert t.spark.sparkContext.props["spark.jobGroup.id"] == "op4"
    assert t.spark.sparkContext.props["spark.jobGroup.id"] is None
    assert [(s.name, s.op, s.parent) for s in t.spans] == [
        ("op.x", 4, None), ("layer.call", 4, 0), ("layer.inner", 4, 1)]


def _event_log(path, base: float) -> None:
    ms = lambda t: int((base + t) * 1000)  # noqa: E731
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": ms(0.1),
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "op0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": ms(0.15), "Finish Time": ms(0.3)},
         "Task Metrics": {"Executor CPU Time": 2e8, "JVM GC Time": 10,
                          "Input Metrics": {"Bytes Read": 100, "Records Read": 40},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": ms(0.4)},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": ms(0.5),
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": ms(0.6)},
    ]
    os.makedirs(path)
    with open(os.path.join(path, "local-1"), "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in evs) + "\n")


def test_event_log_jobs_are_attributed_to_their_call(tmp_path):
    base = 1_700_000_000.0
    _event_log(str(tmp_path / "log"), base)
    jobs = read_event_log(str(tmp_path / "log"))
    assert len(jobs) == 2
    j0 = next(j for j in jobs if j.id == 0)
    assert (j0.tasks, j0.input_records) == (1, 40)
    assert j0.cpu_s == pytest.approx(0.2) and j0.first_launch - j0.submit == pytest.approx(0.05, abs=1e-3)
    spans = [Span(0, "op.analytics", 0, None, base, base + 1),
             Span(1, "nyc.api.analytics", 0, 0, base + 0.05, base + 0.9)]
    assert [j.id for j in jobs_by_span(spans[1:], jobs)[1]] == [0]


def test_layer_metric_names_are_declared(tmp_path):
    """Each workload's per-layer metrics, computed from a synthetic trace,
    are all declared in BENCHMARK.json."""
    declared = set(declared_metrics("per_layer"))
    base = 1_700_000_000.0
    _event_log(str(tmp_path / "log"), base)

    ctx = Ctx("dashboard", 1, 1.0, True, str(tmp_path), 0.0, 1)
    ctx.tracer = Tracer(_FakeSpark())
    ctx.tracer.spans = [Span(0, "op.analytics", 0, None, base, base + 1),
                        Span(1, "nyc.api.analytics", 0, 0, base + 0.05, base + 0.9)]
    r = Run([(0, 1.0)], 1.0, 1.0, {}, {"rows_by_op": {0: 4}})
    names = set(dashboard.layer_metrics(ctx, r, str(tmp_path / "log")))
    assert names <= declared
    assert {"nyc.api.analytics.p50_s", "nyc.api.job_wait_s"} <= names

    ctx.workload = "ingest"
    ctx.tracer.spans = [Span(0, "op.append", 0, None, base, base + 1),
                        Span(1, "operators.txnlog.append", 0, 0, base + 0.05, base + 0.9)]
    table = ingest.Table(ctx, str(tmp_path / "t"), str(tmp_path / "l"))
    r = Run([(0, 1.0), (1, 0.5)], 1.5, 1.0, {},
            {"table": table, "kinds": {0: "append", 1: "read_version"}})
    names = set(ingest.layer_metrics(ctx, r, str(tmp_path / "log")))
    assert names <= declared
    assert {"operators.txnlog.append.p50_s", "operators.txnlog.write_amp"} <= names

    ctx.workload = "reports"
    ctx.tracer.spans = [Span(0, "op.tpch_q1_pricing_summary", 0, None, base, base + 1),
                        Span(1, "queries.relational.build", 0, 0, base + 0.01, base + 0.04),
                        Span(2, "queries.relational.exec", 0, 0, base + 0.05, base + 0.9)]
    r = Run([(0, 1.0)], 1.0, 1.0, {}, {"build_exec": {0: (0.03, 0.85)}, "families": {0: "relational"}})
    names = set(reports.layer_metrics(ctx, r, str(tmp_path / "log")))
    assert names <= declared
    assert {"queries.relational.exec_s", "queries.graph.spark_jobs", "queries.core_util",
            "queries.driver_self_s"} <= names


def test_oracle_compare_tolerates_last_digit_float_noise():
    assert oracle.same({"a": [1.0, None]}, {"a": [1.0 + 1e-13, None]})
    assert not oracle.same({"a": [1.0]}, {"a": [1.001]})
    assert not oracle.same([1, 2], [1, 2, 3])
    assert not oracle.same(None, 0.0)
