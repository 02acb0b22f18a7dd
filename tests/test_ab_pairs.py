"""tools/ab_pairs.py: quartiles, the win count and the sandbox verdict
over canned benchmark results (no Spark, no benchmark runs)."""

from __future__ import annotations

import statistics

import pytest

from tools.ab_pairs import compare, parse_seeds, quartiles, report

PARENT = [2.65, 2.53, 2.14, 2.29, 2.00, 2.40, 2.21, 2.58, 2.33, 2.10]
CHANGE = [1.57, 1.68, 1.48, 1.86, 1.59, 1.62, 1.55, 1.71, 1.66, 1.60]


def test_quartiles_match_perfbench():
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)
    q1, med, q3 = quartiles(PARENT)
    assert med == statistics.median(PARENT)
    assert (q1, q3) == pytest.approx((2.13, 2.5425))


def test_clear_gain_wins_every_pair():
    res = compare(PARENT, CHANGE, "lower", 0.25)
    assert (res["pairs"], res["wins"]) == (10, 10)
    assert res["gap"] > res["parent_iqr"]
    assert res["verdict"] == "gain"


def test_gain_needs_nine_tenths_of_ten_pairs_and_a_gap_over_the_iqr():
    # two pairs lost: 8/10 wins
    change = CHANGE[:8] + [2.70, 2.20]
    assert compare(PARENT, change, "lower", 0.25)["verdict"] == "no gain shown"
    # 9 pairs are too few, however clear
    assert compare(PARENT[:9], CHANGE[:9], "lower", 0.25)["verdict"] == (
        "no gain shown"
    )
    # every pair won, but by less than the parent's own spread
    change = [p - 0.01 for p in PARENT]
    res = compare(PARENT, change, "lower", 0.25)
    assert res["wins"] == 10 and res["verdict"] == "no gain shown"


def test_ties_count_for_neither_side():
    res = compare(PARENT, PARENT, "lower", 0.25)
    assert res["wins"] == 0 and res["gap"] == 0


def test_higher_is_better_and_regressions():
    res = compare(CHANGE, PARENT, "higher", 0.25)
    assert res["wins"] == 10 and res["verdict"] == "gain"
    assert compare(CHANGE, PARENT, "lower", 0.25)["verdict"] == "regression"
    slower = [c * 1.1 for c in CHANGE]
    assert compare(CHANGE, slower, "lower", 0.25)["verdict"] == "no gain shown"


def test_parse_seeds():
    assert parse_seeds(["4101-4103", "4200"]) == [4101, 4102, 4103, 4200]


def test_report_lines():
    spec = {
        "end_to_end": [
            {"name": "setup_s", "better": "lower", "bound": 0.25},
            {"name": "wall_s", "better": "lower", "bound": 0.25},
        ]
    }

    def runs(walls):
        return [
            {"failed": 0, "attempted": 3,
             "metrics": {"setup_s": {"value": 9.0}, "wall_s": {"value": w}}}
            for w in walls
        ]

    lines = report("sync", spec, {"parent": runs(PARENT), "change": runs(CHANGE)})
    assert lines[0] == "sync parent: failed 0/30 operations"
    assert lines[-1].endswith("wins 10/10; gap 0.700 against parent IQR 0.413: gain")
    assert any(
        line.startswith("sync setup_s:") and "wins 0/10" in line
        and line.endswith("no gain shown")
        for line in lines
    )
