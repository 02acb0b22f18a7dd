"""Benchmark of the distcpplus_spark copy engine and analytics headline.

Usage (from the repository root):

    python3 perfbench/run.py --workload sync_update_delete --seed 1 \
        --seconds 5 --trace 0

One run: generate the workload's inputs from ``--seed`` (untimed), build
the Spark session ``SETUPS`` times from a cold JVM (``setup_s`` is the
median), run ``WARMUP_OPS`` untimed operations, then run operations in
a closed loop (one client, one operation at a time, ``local[nproc]``)
until ``--seconds`` have passed and at least one operation (two in a
traced run) has run. Every operation's output is checked; a failed
check or an exception counts in ``failed``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` turns on the Spark event log, traces every other timed
operation (see spans.py) and reports the per-layer metrics, including
``trace.overhead_s``: median traced minus median untraced wall time.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root, which is removed when the run ends. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
WARMUP_OPS = 1
DRIVER_MEMORY = "2g"


def _spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            }
        )
    return conf


def _stop_session(spark) -> None:
    """Stop the session AND its JVM, so the next build starts cold."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _peak_rss_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


class Ctx:
    """What a workload's timed operation may use."""

    def __init__(self, spark, engine, span):
        self.spark = spark
        self.engine = engine
        self.span = span


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from pyspark import SparkContext

    import __spark_entry__
    from distcpplus_spark.engine import DistCpPlusEngine
    from distcpplus_spark.session import get_spark
    from spans import Tracer, read_event_log
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](os.path.join(WORK, "data"), seed)

    tracer = Tracer() if trace else None
    setup_s = []
    for i in range(SETUPS):
        last = i == SETUPS - 1
        t0 = time.perf_counter()
        with tracer.span("session.get_spark") if (tracer and last) else contextlib.nullcontext():
            spark = get_spark("perfbench", extra_conf=_spark_conf(trace and last))
        spark.range(1).count()
        setup_s.append(time.perf_counter() - t0)
        if not last:
            _stop_session(spark)
    jvm_pid = SparkContext._gateway.proc.pid
    __spark_entry__._ship_package(spark)
    if tracer:
        tracer.sc = spark.sparkContext
    engine = DistCpPlusEngine(spark)

    attempted = failed = 0
    walls: dict[bool, list[float]] = {False: [], True: []}
    first_errors: list[str] = []

    def one_op(index: int, traced: bool, timed: bool) -> None:
        nonlocal attempted, failed
        wl.prepare()
        attempted += 1
        if traced:
            tracer.op = index
        span = tracer.span if traced else (lambda _name: contextlib.nullcontext())
        ctx = Ctx(spark, engine, span)
        try:
            t0 = time.perf_counter()
            with tracer.patched() if traced else contextlib.nullcontext():
                out = wl.run(ctx)
            wall = time.perf_counter() - t0
            errors = wl.check(out)
        except Exception as e:  # a failed operation is counted, not fatal
            errors = [f"{type(e).__name__}: {e}"]
        if errors:
            failed += 1
            first_errors.extend(errors[:3])
        elif timed:
            walls[traced].append(wall)

    try:
        for _ in range(WARMUP_OPS):
            one_op(-1, False, False)
        start = time.perf_counter()
        index = 0
        # At least one timed operation, two in a traced run (untraced,
        # traced). With --seconds shorter than an operation, every run
        # times the same number of operations.
        min_ops = 2 if trace else 1
        while index < min_ops or time.perf_counter() - start < seconds:
            one_op(index, trace and index % 2 == 1, True)
            index += 1
        peak_rss = _peak_rss_mib(jvm_pid)
    finally:
        _stop_session(spark)

    for err in first_errors[:10]:
        print(f"check failed: {err}", file=sys.stderr)
    untraced = walls[False]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not untraced:
        raise RuntimeError("no operation succeeded")
    wall = statistics.median(untraced)
    summary = {
        "setup_s": (setup_s, "s"),
        "wall_s": (untraced, "s"),
        "files_per_s": ([wl.n_files / w for w in untraced], "1/s"),
        "mib_per_s": ([wl.n_bytes / 2**20 / w for w in untraced], "MiB/s"),
        "peak_rss_mib": ([peak_rss], "MiB"),
    }
    print(f"workload {workload} seed {seed}: {wl.n_files} files, "
          f"{wl.n_bytes / 2**20:.2f} MiB, fail_ratio {failed}/{attempted} "
          f"= {failed / attempted:.4f}; operation walls (s) "
          f"{[round(w, 3) for w in untraced]}")
    for name, (values, unit) in summary.items():
        q1, med, q3 = _quartiles(values)
        print(f"  {name}: median {med:.4f} {unit} (n={len(values)}, "
              f"q1 {q1:.4f}, q3 {q3:.4f})")

    if trace:
        metrics = tracer.layer_metrics(read_event_log(os.path.join(WORK, "eventlog")))
        if walls[True]:
            metrics["trace.overhead_s"] = statistics.median(walls[True]) - wall
    else:
        metrics = {name: statistics.median(v) for name, (v, _u) in summary.items()}
    result["metrics"] = metrics
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        p.error(f"unknown workload {args.workload!r}; expected one of {names}")
    if not os.path.isdir(os.path.join(ROOT, "distcpplus_spark")):
        print(f"distcpplus_spark not found under {ROOT}", file=sys.stderr)
        return 2

    # Everything Spark, DuckDB and the package write goes under WORK:
    # set before the first JVM or Python worker starts.
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "eventlog", "spark-local"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Every JVM, the spark-submit launcher's too: no /tmp/hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), here]
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result["metrics"] = {
        m["name"]: {"value": result["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
