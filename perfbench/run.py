"""Benchmark of the reconciliation engine: one workload per invocation, in
one process, on one ``local[nproc]`` session, driven by a closed loop with a
single client (each op waits for the previous one).

    python3 perfbench/run.py --workload recon_large --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed`` under ``.bench_work/`` and removed
afterwards; the program sees only the generated files. Every op's output is
checked against an independent DuckDB truth. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds every figure of the run, for people.

With ``--trace 1`` the workload first runs untraced, then the session is
restarted with Spark's event log on and the wrappers of
:mod:`perfbench.trace` installed, and the loop runs again; the ratio of the
two median op times is ``trace.overhead_ratio``. Spans are written to
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "reconciliation_hive_data_spark"
#: job group prefix that tags every Spark job with the op that started it
GROUP = "perfbench-op-"

#: end-to-end metrics printed with ``--trace 0``. Rows per second, peak RSS
#: and the tail are printed for people only: with one client and ops of
#: one size, rows per second is the median op time restated; the Spark
#: JVM's heap growth moves peak RSS by +-15% between identical runs; and a
#: run's ~10 ops support no percentile with ten samples beyond it.
END_TO_END = {"setup_s": "s", "op_p50_s": "s"}


def _pin_environment(work: str) -> int:
    """Session width = the cores this process may use; Python workers get
    the repo on their path; every scratch write stays under ``work``."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        path = os.path.join(work, sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path
    tempfile.tempdir = None  # re-read TMPDIR
    return cores


class Session:
    """Starts and stops the engine's session with every scratch directory
    inside ``work``."""

    def __init__(self, work: str) -> None:
        self.work = work

    def start(self, event_log: str | None = None):
        from reconciliation_hive_data_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.defaultJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        # the embedded metastore boots lazily; home it here before it does
        spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
            "derby.system.home", os.path.join(self.work, "derby")
        )
        return spark

    @staticmethod
    def stop(spark) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def timed_loop(spark, wl, seconds: float, first: int, tracer=None, min_ops: int | None = None):
    """Closed loop, one client: run ops until ``seconds`` have passed and at
    least ``min_ops`` (default ``wl.min_ops``) ran. Returns the ops with
    their wall times, the outputs of those that succeeded, and the number
    that raised."""
    from perfbench.workloads import no_span

    sc = spark.sparkContext
    span = tracer.span if tracer else no_span
    walls, outputs, failed = [], [], 0
    t_start = time.perf_counter()
    while len(walls) < (min_ops or wl.min_ops) or time.perf_counter() - t_start < seconds:
        op = wl.op(spark, first + len(walls))
        sc.setJobGroup(f"{GROUP}{op.index}", f"{wl.name}:{op.name}")
        if tracer:
            tracer.op = op.index
        t0 = time.perf_counter()
        try:
            with span("op"):
                out = op.run(span)
        except Exception:  # a failing op is counted, not fatal
            traceback.print_exc()
            failed += 1
        else:
            outputs.append(out)
        walls.append((op, time.perf_counter() - t0))
    sc.setLocalProperty("spark.jobGroup.id", None)
    if tracer:
        tracer.op = None
    return walls, outputs, failed


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it, as
    ``(percentile, value, samples)``; None when there are too few samples."""
    n = len(samples)
    for p in (99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1], n
    return None


def run(wl, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """Run workload ``wl`` once; returns the full report and the result
    line."""
    import numpy as np

    from perfbench import trace as tracing

    work = wl.work
    cores = _pin_environment(work)
    wl.prepare(np.random.default_rng(seed), seconds)

    session = Session(work)
    t0 = time.perf_counter()
    spark = session.start()
    boot_s = time.perf_counter() - t0
    metastore_s = 0.0
    if wl.touches_metastore:  # the recon path never boots the metastore
        t0 = time.perf_counter()
        spark.catalog.tableExists("perfbench_probe")
        metastore_s = time.perf_counter() - t0
    warmup_s = wl.warmup(spark)

    walls, outputs, failed = timed_loop(spark, wl, seconds, 0)
    rss = peak_rss_mb(spark)
    layers: dict[str, float] = {}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        spark.stop()
        spark = session.start(event_log=log_dir)
        # one untimed op, so the fresh session's first op (Python workers,
        # relation caches) does not count as tracing overhead
        rewarm, _, _ = timed_loop(spark, wl, 0, len(walls), min_ops=1)
        tracer = tracing.Tracer()
        tracer.install()
        try:
            t_walls, t_outputs, t_failed = timed_loop(
                spark, wl, seconds, len(walls) + len(rewarm), tracer
            )
        finally:
            tracer.uninstall()
        session.stop(spark)
        t_times = [w for _, w in t_walls]
        layers = tracing.layer_metrics(
            tracer, tracing.read_event_log(log_dir, GROUP), t_times, cores
        )
        layers["trace.overhead_ratio"] = statistics.median(t_times) / statistics.median(
            w for _, w in walls
        )
        layers |= {
            "session.boot_s": boot_s,
            "session.metastore_init_s": metastore_s,
            "session.warmup_s": warmup_s,
        }
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{wl.name}-{seed}.json"))
        walls, outputs, failed = walls + t_walls, outputs + t_outputs, failed + t_failed
    else:
        session.stop(spark)

    ok = wl.check(outputs)
    for problem in wl.problems():
        print(f"perfbench: {problem}", file=sys.stderr)
    times = [w for _, w in walls]
    attempted = len(walls)
    end_to_end = {
        "setup_s": boot_s + metastore_s + warmup_s,
        "op_p50_s": statistics.median(times),
    }
    report = {
        "workload": wl.name,
        "seed": seed,
        "clients": 1,
        "cores": cores,
        "ops": attempted,
        **end_to_end,
        "rows_per_s": statistics.median(op.rows / w for op, w in walls),
        "op_tail": tail(times),
        "peak_rss_mb": rss,
        "failed_ratio": failed / attempted,
        "wrong_ratio": ok.count(False) / attempted,
        "op_walls": [round(t, 3) for t in times],
        "session.boot_s": boot_s,
        "session.metastore_init_s": metastore_s,
        "session.warmup_s": warmup_s,
        **layers,
    }
    metrics, units = (layers, tracing.LAYER_METRICS) if trace else (end_to_end, END_TO_END)
    result = {
        "correct": all(ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: the {PACKAGE} package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        report, result = run(WORKLOADS[args.workload](work), args.seed, args.seconds,
                             bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench:", json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
