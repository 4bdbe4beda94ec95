"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Builds the workload's inputs from the seed, starts a Spark session, runs a
warm pass, measures for --seconds, checks every output outside the timed
region, and prints one JSON result as the last stdout line: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1 (which also
writes a spans file under .perfbench_run/). Exits non-zero, printing no
result, if the program cannot be imported or the run breaks.

Everything the run writes (data, Spark scratch, the program's persisted
layouts, the event log) goes to a fresh directory under .perfbench_run/ in
the working directory, removed at exit: every run starts from the same
state, with the program's layouts always cleared.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dashboard", "reports", "ingest")
DRIVER_MEMORY = "6g"


def _configure(work: str, log_dir: str | None) -> None:
    """Point every scratch location at `work`, before the JVM starts. The
    event log is a launch-time conf, switched on only for traced runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false"]
    if log_dir:
        os.makedirs(log_dir)
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{log_dir}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _descendants() -> list[int]:
    from perfbench.harness import _children

    kids, todo, out = _children(), [os.getpid()], []
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _stop(ctx) -> None:
    """Stop Spark, shut the JVM down and wait until every process this run
    started has exited."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    pids = _descendants()
    gateway = SparkContext._gateway
    ctx.spark.stop()
    ctx.spark = None
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Fails here, before any work, in a checkout without the program.
    import nyc_analytics_database_platform_spark  # noqa: F401

    from perfbench import dashboard, ingest, reports
    from perfbench.harness import Ctx, peak_rss_mb
    from perfbench.stats import declared_metrics, result_line

    runs = os.path.join(os.getcwd(), ".perfbench_run")
    work = os.path.join(runs, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = os.path.join(work, "eventlog") if a.trace else None
    _configure(work, log_dir)
    mod = {"dashboard": dashboard, "reports": reports, "ingest": ingest}[a.workload]
    ctx = Ctx(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
              work=work, t0=T0, cpus=min(4, len(os.sched_getaffinity(0))))
    try:
        r = mod.run(ctx)
        values = {
            "setup_s": r.setup_s,
            "op_p50_s": r.p(50),
            "ops_per_s": len(r.lat) / r.elapsed,
        }
        if ctx.trace:
            layer = dict(ctx.layer)
            layer["peak_rss_mb"] = peak_rss_mb()
            layer["catalog.resident_rdds"] = float(max(ctx.resident_rdds, default=0))
            layer["trace.overhead_p50_s"] = r.overhead(ctx)
            layer["trace.spans"] = float(len(ctx.tracer.spans))
            _stop(ctx)  # flushes the event log
            layer.update(mod.layer_metrics(ctx, r, log_dir))
            ctx.tracer.write(os.path.join(runs, f"spans-{a.workload}-{a.seed}.jsonl"))
            units = declared_metrics("per_layer")
            unknown = set(layer) - set(units)
            if unknown:
                raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
            # A layer this workload never enters reports 0.
            values = {n: float(layer.get(n, 0.0)) for n in units}
        else:
            units = declared_metrics("end_to_end")
    finally:
        _stop(ctx)
        shutil.rmtree(work, ignore_errors=True)
    for e in ctx.outcomes.errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(f"inputs {r.inputs}", file=sys.stderr)
    print(result_line(ctx.outcomes, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
