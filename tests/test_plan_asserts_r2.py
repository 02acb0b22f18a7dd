"""Plan-shape assertions for round-2 queries: the properties that
decide 100 TB behavior, pinned at the physical-plan level so a
regression shows up as a test failure, not a slow cluster."""

from __future__ import annotations

import re

from tools.audit_windows import global_window_lines

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_global_window(plan: str, where: str) -> None:
    """A global (partition-less) Window funnels the input through one
    task. Detection lives in tools.audit_windows (the original
    three-bracket regex here was VACUOUS: a global Window prints only
    TWO bracket groups and never matched — round-8 fix)."""
    hits = global_window_lines(plan)
    assert not hits, f"partition-less Window in {where}:\n" + "\n".join(hits)


def test_q103_lsh_neardup_is_bucket_grouped_not_cartesian(spark):
    """Round-13 shape: candidate pairs never materialize in a JOIN at
    all — one exchange keyed by the sign bucket feeds a grouped Arrow
    kernel (FlatMapGroupsInPandas) that scores each bucket's m×m
    block vectorized. No pair-enumerating join of any kind may
    appear; the bucket exchange is the only wide edge."""
    from distcpplus_spark.queries.llm import q103_lsh_neardup_pairs

    plan = _plan(q103_lsh_neardup_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # no pair-join stage remains
    assert "FlatMapGroupsInPandas" in plan
    assert "Exchange hashpartitioning(_bucket" in plan


def test_q108_contamination_broadcasts_bench_grams(spark):
    from distcpplus_spark.queries.llm2 import q108_contamination_check

    plan = _plan(q108_contamination_check(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_running_agg_queries_have_no_partitionless_window(spark):
    from distcpplus_spark.queries.llm import q95_sequence_packing
    from distcpplus_spark.queries.relational import q19_window_running_sum
    from distcpplus_spark.queries.streaming import q71_stream_late_data

    for fn in (q95_sequence_packing, q71_stream_late_data,
               q19_window_running_sum):
        _assert_no_global_window(_plan(fn(spark, SF)), fn.__name__)


def test_etl_planner_has_no_partitionless_window(spark, tmp_path):
    """assign_cost_buckets runs its running cost in a window per
    partition, and the -filelimit path of apply_limits the two-phase
    distributed prefix sum over a range-partitioned manifest — a
    partition-less Window in either would funnel a 100 M-row copy
    manifest through one task (round-4 VERDICT item)."""
    from distcpplus_spark.plans.copy_plan import apply_limits, assign_cost_buckets
    from distcpplus_spark.sources.lister import list_tree

    src = tmp_path / "src"
    src.mkdir()
    for i in range(8):
        (src / f"f{i}.bin").write_bytes(b"x" * 100)
    listing = list_tree(spark, [str(src)])

    for df in (
        assign_cost_buckets(listing, bytes_per_task=300),
        apply_limits(listing, file_limit=3, size_limit=None),
    ):
        _assert_no_global_window(_plan(df), "ETL planner")


def test_q75_global_windows_are_only_the_bounded_seed(spark):
    """q75's ONLY global windows are over the 25-row k-means seed
    sample (known-bounded, round-6 verdict); anything beyond that
    count is a regression."""
    from distcpplus_spark.queries.llm import q75_ivf_exhaustive_topk

    plan = _plan(q75_ivf_exhaustive_topk(spark, SF))
    hits = global_window_lines(plan)
    assert len(hits) <= 2, "unexpected global Window(s):\n" + "\n".join(hits)


def test_q106_repetition_filter_is_shuffle_free_before_sort(spark):
    """Per-doc repetition scoring is a pure projection: no Exchange
    before the final ordering."""
    from distcpplus_spark.queries.llm2 import q106_repeated_ngram_filter

    plan = _plan(q106_repeated_ngram_filter(spark, SF))
    # exactly the ordering exchange (rangepartitioning), no hash
    # exchange anywhere
    assert "hashpartitioning" not in plan


def test_round5_queries_have_partitioned_windows_and_broadcasts(spark):
    """q143/q147 windows must partition by user_id (never global);
    q144's df/N joins must broadcast (vocabulary-sized sides)."""
    from distcpplus_spark.queries.llm3 import (
        q143_sessionization,
        q144_tfidf_top_terms,
        q147_rolling_user_rate,
    )

    for fn in (q143_sessionization, q147_rolling_user_rate):
        _assert_no_global_window(_plan(fn(spark, SF)), fn.__name__)

    plan = _plan(q144_tfidf_top_terms(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    _assert_no_global_window(plan, "tf-idf")
