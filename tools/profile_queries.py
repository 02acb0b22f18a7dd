"""Profile registry queries from Spark's event log.

Usage: python tools/profile_queries.py <sf_dir> <query> [query ...] [--reps N]

Runs each query once untimed as a warm-up, then ``--reps`` times inside
a ``perfbench/spans.py`` span named ``queries.<query>``, in a session of
its own with the event log on. After the session stops, the log is read
back and each query gets perfbench's per-layer metrics, the median over
its reps:

  s                     wall of one collect()
  jobs, tasks           Spark jobs and tasks it ran
  executor_run_s        summed executor run time of those tasks
  shuffle_write_mib     shuffle bytes those tasks wrote
  task_max_over_median  slowest task against the median task

The profile is one JSON object, query -> metrics, printed to standard
output (Spark logs go to standard error). The session takes its shuffle
partitions from ``bench.shuffle_partitions``, so walls compare with
``bench.py``'s.

For the fixed headline set at sf0.1, ``perfbench/run.py --workload
analytics_headline --trace 1`` reports the same metrics; this tool is
for any other queries or scale factor. To decide an A/B change, profile
the parent and the branch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import bench  # noqa: E402
from spans import Tracer, read_event_log  # noqa: E402

from distcpplus_spark.queries import load_all_queries  # noqa: E402
from distcpplus_spark.session import get_spark  # noqa: E402


def profile(queries: dict, sf_dir: str, names: list[str], reps: int) -> dict[str, dict]:
    log_dir = tempfile.mkdtemp(prefix="profile_queries_")
    log_uri = "file://" + log_dir
    try:
        spark = get_spark(
            "profile_queries",
            shuffle_partitions=bench.shuffle_partitions(sf_dir),
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": log_uri,
            },
        )
        # get_spark reuses a live session, whose conf has no event log.
        if spark.sparkContext.getConf().get("spark.eventLog.dir") != log_uri:
            raise RuntimeError("profile_queries needs a process without a Spark session")
        tracer = Tracer()
        tracer.sc = spark.sparkContext
        try:
            for name in names:
                queries[name](spark, sf_dir).collect()
            for name in names:
                for rep in range(reps):
                    tracer.op = rep
                    with tracer.span(f"queries.{name}"):
                        queries[name](spark, sf_dir).collect()
        finally:
            spark.stop()  # the event log is complete only after stop()
        metrics = tracer.layer_metrics(read_event_log(log_dir))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    out: dict[str, dict] = {name: {} for name in names}
    for key, value in metrics.items():
        _, name, metric = key.split(".", 2)
        out[name][metric] = round(value, 3)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="+")
    p.add_argument("--reps", type=int, default=3)
    args = p.parse_args(argv)
    queries, _ = load_all_queries()
    unknown = [n for n in args.queries if n not in queries]
    if unknown:
        p.error(f"unknown queries: {unknown}")
    if args.reps < 1:
        p.error("--reps must be at least 1")

    print(json.dumps(profile(queries, args.sf_dir, args.queries, args.reps), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
