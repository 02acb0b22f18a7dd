"""tools/profile_queries.py end to end: it runs in a process of its own
(the profiler owns its Spark session) and reports perfbench's per-layer
metrics for every query it is given."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYER_METRICS = {
    "s", "jobs", "tasks", "executor_run_s", "shuffle_write_mib",
    "task_max_over_median",
}


def test_profile_two_queries(tmp_path):
    sf_dir = str(tmp_path / "sf0.001")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_fixture.py"), "0.001", sf_dir],
        check=True,
    )
    names = ["q01_scan_count", "q12_agg_q1"]
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_queries.py"), sf_dir,
         *names, "--reps", "1"],
        check=True,
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
    )
    profile = json.loads(proc.stdout)
    assert list(profile) == names
    for name in names:
        assert set(profile[name]) == LAYER_METRICS, name
        assert profile[name]["jobs"] >= 1, name
