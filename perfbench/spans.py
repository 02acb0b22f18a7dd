"""Per-layer tracing from the benchmark's own files.

A traced operation runs with wrappers installed around the package's
public functions (module attributes of ``distcpplus_spark.engine`` and
methods of ``DistCpPlusEngine``); nothing inside the package changes.
Each wrapper records a span (name, start, end, parent) and sets a Spark
job group named after the span, so the Spark event log attributes every
job, task, executor second and shuffle byte to the span that started
it. Work counts are taken at the same boundaries by small probe jobs,
recorded as spans of their own so they are not charged to any layer.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict

PROBE = "probe"
NO_GROUP = "perfbench-none"


class Tracer:
    def __init__(self) -> None:
        self.sc = None
        self.op = -1  # -1: session set-up; 0..n: timed operations
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._stack: list[int] = []

    def _set_group(self) -> None:
        if self.sc is None:
            return
        group = self.spans[self._stack[-1]]["group"] if self._stack else NO_GROUP
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-span-{idx}",
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self._set_group()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def count(self, name: str, value: float) -> None:
        self.counts[self.op][name] += value

    def probe_count(self, name: str, df) -> None:
        with self.span(PROBE):
            self.count(name, df.count())

    @contextlib.contextmanager
    def patched(self):
        """Install the span wrappers for the duration of one operation."""
        from pyspark.sql import functions as F

        from distcpplus_spark import engine as E

        def after_list_tree(out, *_a, **_k):
            self.probe_count("lister.rows", out)

        def after_plan_updates(_out, src_meta, dst_meta, opts):
            # Rows the -update predicate hashes: files present on both
            # sides with equal length (and mtime unless -skiptscheck).
            if not opts.update or opts.skip_crc_check:
                return
            d = dst_meta.select(
                F.col("relative_dst").alias("_r"),
                F.col("length").alias("_l"),
                F.col("mtime").alias("_m"),
            )
            cond = (F.col("relative_dst") == F.col("_r")) & (
                F.col("length") == F.col("_l")
            )
            if not opts.skip_ts_check:
                cond = cond & (F.col("mtime") == F.col("_m"))
            ties = src_meta.filter(~F.col("is_dir")).join(d, cond)
            self.probe_count("copy_plan.checksum_pairs", ties)

        def after_execute(_out, engine, *_a, **_k):
            self.count("copier.rows", engine.last_metrics["rows"])
            self.count("copier.bytes", engine.last_metrics["bytes_copied"])

        def after_deletes(_out, _engine, plan):
            self.probe_count("engine.deletes", plan.deletes)

        def after_counters(_out, result):
            self.probe_count(
                "copy_plan.checksum_changed",
                result.filter(F.col("action") == "copy_checksum"),
            )

        cls = E.DistCpPlusEngine
        targets = [
            (E, "list_tree", "lister.list_tree", after_list_tree),
            (E, "plan_updates", None, after_plan_updates),
            (E, "check_duplicates_and_total", "copy_plan.check_duplicates_and_total", None),
            (E, "assign_cost_buckets", "copy_plan.assign_cost_buckets", None),
            (E, "plan_mirror_delete", "copy_plan.plan_mirror_delete", None),
            (E, "execute_copy", "copier.execute_copy", None),
            (E, "cleanup_tmp", "copier.cleanup_tmp", None),
            (E, "finalize_dir_attrs", "copier.finalize_dir_attrs", None),
            (E, "counters", "copier.counters", after_counters),
            (cls, "copy", "engine.copy", None),
            (cls, "plan", "engine.plan", None),
            (cls, "execute", "engine.execute", after_execute),
            (cls, "_execute_deletes", "engine._execute_deletes", after_deletes),
        ]
        saved = []
        for owner, attr, name, after in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, after))
        try:
            yield
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    def _wrap(self, fn, name, after):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name is None:
                out = fn(*args, **kwargs)
            else:
                with self.span(name):
                    out = fn(*args, **kwargs)
            if after is not None:
                after(out, *args, **kwargs)
            return out

        return wrapper

    def layer_metrics(self, groups: dict[str, dict]) -> dict[str, float]:
        """Per-layer metrics: each is the median over the operations in
        which it was recorded (the set-up span has one sample)."""
        children = defaultdict(list)
        for idx, rec in enumerate(self.spans):
            if rec["parent"] is not None:
                children[rec["parent"]].append(idx)
        per_op: dict[int, dict[str, dict]] = defaultdict(dict)
        for idx, rec in enumerate(self.spans):
            if rec["name"] == PROBE:
                continue
            covered = sum(
                self.spans[c]["end"] - self.spans[c]["start"]
                for c in children[idx]
            )
            g = groups.get(rec["group"], {"jobs": 0, "tasks": []})
            acc = per_op[rec["op"]].setdefault(
                rec["name"], {"s": 0.0, "jobs": 0, "tasks": []}
            )
            acc["s"] += rec["end"] - rec["start"] - covered
            acc["jobs"] += g["jobs"]
            acc["tasks"] += g["tasks"]

        samples: dict[str, list[float]] = defaultdict(list)
        for op, spans in per_op.items():
            for name, acc in spans.items():
                tasks = acc["tasks"]
                samples[f"{name}.s"].append(acc["s"])
                samples[f"{name}.jobs"].append(acc["jobs"])
                samples[f"{name}.tasks"].append(len(tasks))
                run_ms = [t[0] for t in tasks]
                samples[f"{name}.executor_run_s"].append(sum(run_ms) / 1e3)
                samples[f"{name}.shuffle_write_mib"].append(
                    sum(t[1] for t in tasks) / 2**20
                )
                samples[f"{name}.task_max_over_median"].append(
                    max(run_ms) / max(statistics.median(run_ms), 1)
                    if run_ms
                    else 0.0
                )
        for counts in self.counts.values():
            for name, value in counts.items():
                samples[name].append(value)
            if "copy_plan.checksum_pairs" in counts:
                pairs = counts["copy_plan.checksum_pairs"]
                samples["copy_plan.checksum_reads"].append(2 * pairs)
                samples["copy_plan.checksum_useful_ratio"].append(
                    counts.get("copy_plan.checksum_changed", 0) / pairs
                    if pairs
                    else 0.0
                )
        return {name: statistics.median(v) for name, v in samples.items()}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> {"jobs": n, "tasks": [(executor_run_ms,
    shuffle_bytes_written), ...]} from the one uncompressed event log
    in ``log_dir``."""
    (name,) = os.listdir(log_dir)
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[job] = props.get("spark.jobGroup.id") or NO_GROUP
                for stage in ev["Stage IDs"]:
                    stage_job.setdefault(stage, job)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                stage_tasks[ev["Stage ID"]].append(
                    (m.get("Executor Run Time", 0), shuffle)
                )
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "tasks": []})
    for group in job_group.values():
        groups[group]["jobs"] += 1
    for stage, tasks in stage_tasks.items():
        groups[job_group[stage_job[stage]]]["tasks"] += tasks
    return groups
