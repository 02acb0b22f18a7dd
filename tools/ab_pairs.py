"""A/B pairs of benchmark runs: a parent checkout against a change.

Usage (from anywhere):

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR \
        --workload sync_update_delete --seeds 4101-4110 [--seconds 5]

For each seed, runs ``python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0`` once in each checkout, alternating which side
runs first, and reads the JSON object on the last line of its output.
For each workload and each end-to-end metric of the change's
``BENCHMARK.json`` it prints every pair, each side's median, q1 and q3,
the change's win count (ties count for neither side), and the verdict
of the sandbox rule: a gain holds when the change wins at least nine
tenths of at least ten pairs and the medians differ by more than the
parent's quartile distance. A median worse than the parent's by more
than the metric's bound is reported as a regression. Failed operations
are counted per side.

Quartiles are ``statistics.quantiles(values, n=4)``, as perfbench
reports them. Each run is a fresh process that owns its Spark session;
nothing else should run on the host meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) of ``values``."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(
    parent: list[float], change: list[float], better: str, bound: float
) -> dict:
    """The sandbox rule over paired samples (``parent[i]`` and
    ``change[i]`` come from the same seed)."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (pm - cm)
    n = len(parent)
    if n >= 10 and wins >= 0.9 * n and gap > p3 - p1:
        verdict = "gain"
    elif -gap > bound * pm:
        verdict = "regression"
    else:
        verdict = "no gain shown"
    return {
        "pairs": n,
        "wins": wins,
        "parent": (p1, pm, p3),
        "change": (c1, cm, c3),
        "gap": gap,
        "parent_iqr": p3 - p1,
        "verdict": verdict,
    }


def parse_seeds(tokens: list[str]) -> list[int]:
    """``4101 4102`` or ``4101-4110``."""
    seeds = []
    for t in tokens:
        lo, _, hi = t.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(
            f"{checkout} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def report(workload: str, spec: dict, runs: dict[str, list[dict]]) -> list[str]:
    out = []
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        out.append(f"{workload} {side}: failed {failed}/{attempted} operations")
    for m in spec["end_to_end"]:
        name = m["name"]
        parent = [r["metrics"][name]["value"] for r in runs["parent"]]
        change = [r["metrics"][name]["value"] for r in runs["change"]]
        res = compare(parent, change, m["better"], m["bound"])
        pairs = " ".join(f"{p:.3f}/{c:.3f}" for p, c in zip(parent, change))
        out.append(f"{workload} {name} pairs (parent/change): {pairs}")
        out.append(
            "{w} {n}: parent median {p[1]:.3f} (q1 {p[0]:.3f}, q3 {p[2]:.3f}); "
            "change median {c[1]:.3f} (q1 {c[0]:.3f}, q3 {c[2]:.3f}); "
            "wins {wins}/{pairs}; gap {gap:.3f} against parent IQR "
            "{parent_iqr:.3f}: {verdict}".format(
                w=workload, n=name, p=res["parent"], c=res["change"], **res
            )
        )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": args.parent, "change": args.change}
    for workload in args.workload:
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_once(sides[side], workload, seed, args.seconds))
                wall = runs[side][-1]["metrics"]["wall_s"]["value"]
                print(f"{workload} seed {seed} {side}: wall_s {wall:.3f}",
                      file=sys.stderr, flush=True)
        print("\n".join(report(workload, spec, runs)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
