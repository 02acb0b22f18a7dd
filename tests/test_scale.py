"""Scale-strategy operators: salted joins/aggs and bucketed co-location.

Each test asserts BOTH result equivalence (the rewrite changes the
physical plan, never the answer) and the plan property that makes the
strategy worth having (salt in the shuffle key / no Exchange)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from distcpplus_spark.operators.scale import (
    salted_group_count,
    salted_join,
    write_bucketed,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # key 0 holds ~70% of rows — the classic hot-key shape.
    df = spark.range(0, 2000).select(
        F.when(F.col("id") < 1400, 0).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    return df.cache()


@pytest.fixture(scope="module")
def dims(spark):
    return spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), "id").alias("k_name")
    ).cache()


def test_salted_join_matches_plain_join(spark, skewed, dims):
    plain = skewed.join(dims, "k").select("k", "v", "k_name")
    salted = salted_join(skewed, dims, "k", salt_buckets=8).select(
        "k", "v", "k_name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_left_preserves_unmatched(spark, skewed, dims):
    holes = dims.filter(F.col("k") >= 25)
    plain = skewed.join(holes, "k", "left").select("k", "v", "k_name")
    salted = salted_join(skewed, holes, "k", "left", salt_buckets=4).select(
        "k", "v", "k_name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_rejects_right_full(skewed, dims):
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(skewed, dims, "k", how)


def test_salted_join_salts_the_shuffle_key(spark, skewed, dims):
    # Force the shuffle path (no broadcast) and check the salt column
    # participates in the join condition — i.e. the hot key really is
    # spread across (key, salt) reducer space.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = salted_join(
            skewed, dims, "k", salt_buckets=8
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert "__dcp_salt" in plan


def test_salted_group_count_matches_plain(spark, skewed):
    plain = {r["k"]: r["n"] for r in
             skewed.groupBy("k").agg(F.count("*").alias("n")).collect()}
    salted = {r["k"]: r["n"] for r in
              salted_group_count(skewed, "k", salt_buckets=8).collect()}
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("b")
    )
    write_bucketed(left, "t_bleft", "k", 4, path=str(tmp_path / "bleft"))
    write_bucketed(right, "t_bright", "k", 4, path=str(tmp_path / "bright"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bleft").join(spark.table("t_bright"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_bucketed_agg_has_no_exchange(spark, tmp_path):
    df = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    write_bucketed(df, "t_bagg", "k", 4, path=str(tmp_path / "bagg"))
    try:
        agg = spark.table("t_bagg").groupBy("k").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bagg")


def test_hinted_join_strategies_reach_the_plan(spark, skewed, dims):
    from distcpplus_spark.operators.scale import hinted_join

    def plan_of(strategy):
        df = hinted_join(skewed, dims, "k", strategy)
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan_of("broadcast")
    assert "SortMergeJoin" in plan_of("merge")
    assert "ShuffledHashJoin" in plan_of("shuffle_hash")
    # results identical across strategies
    base = sorted(map(tuple, hinted_join(skewed, dims, "k", "merge").collect()))
    for s in ("broadcast", "shuffle_hash"):
        assert sorted(map(tuple, hinted_join(skewed, dims, "k", s).collect())) == base
    import pytest as _pt

    with _pt.raises(ValueError):
        hinted_join(skewed, dims, "k", "nonsense")


def test_partitioned_running_agg_matches_global_window(spark):
    """Two-phase prefix sum/max ≡ the partition-less window it replaces."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import partitioned_running_agg

    df = spark.range(1000).selectExpr(
        "id", "CAST(pmod(hash(id), 97) AS BIGINT) AS v"
    )
    w = W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect_sum = {
        r["id"]: r["c"]
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    got_sum = {
        r["id"]: r["c"]
        for r in partitioned_running_agg(
            df, ["id"], "v", "c", bucket=F.floor(F.col("id") / 64)
        ).collect()
    }
    assert got_sum == expect_sum

    expect_max = {
        r["id"]: r["c"]
        for r in df.withColumn("c", F.max("v").over(w)).collect()
    }
    got_max = {
        r["id"]: r["c"]
        for r in partitioned_running_agg(
            df, ["id"], "v", "c", bucket=F.floor(F.col("id") / 64), agg="max"
        ).collect()
    }
    assert got_max == expect_max


def test_partitioned_running_agg_plan_has_no_global_window(spark):
    from pyspark.sql import functions as F

    from distcpplus_spark.operators.scale import partitioned_running_agg

    df = spark.range(100).selectExpr("id", "id AS v")
    out = partitioned_running_agg(
        df, ["id"], "v", "c", bucket=F.floor(F.col("id") / 10)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window node must carry a partition spec
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "windowspecdefinition(_rab" in line or "partitionBy" in line, line


def test_partitioned_running_agg_null_values_and_buckets(spark):
    """NULL values and NULL order keys must behave like the global
    window: null-bucket rows survive (null-safe carry join) and an
    all-NULL in-bucket prefix still surfaces prior buckets' sum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import partitioned_running_agg

    rows = [
        (None, None),   # null order key -> null bucket
        (0, 5), (1, None), (2, None),   # bucket 0: all-null tail
        (10, None), (11, 7),            # bucket 1: null PREFIX
        (20, 1),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, v BIGINT")
    w = W.orderBy(F.asc_nulls_first("id")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    expect = {
        r["id"]: r["c"] for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    got = {
        r["id"]: r["c"]
        for r in partitioned_running_agg(
            df, ["id"], "v", "c", bucket=F.floor(F.col("id") / 10)
        ).collect()
    }
    assert len(got) == len(rows)  # no dropped rows
    assert got == expect


def test_partitioned_running_aggs_multi_spec_one_pass(spark):
    """N running aggregates from one call ≡ N separate global windows,
    including a mixed sum+max spec and the running row count (sum of
    ones ≡ row_number over a unique order)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import partitioned_running_aggs

    df = spark.range(500).selectExpr(
        "id",
        "CAST(pmod(hash(id), 53) AS BIGINT) AS v",
        "CAST(1 AS BIGINT) AS one",
    )
    w = W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect = {
        r["id"]: (r["s"], r["m"], r["rn"])
        for r in df.withColumn("s", F.sum("v").over(w))
        .withColumn("m", F.max("v").over(w))
        .withColumn("rn", F.row_number().over(W.orderBy("id")).cast("bigint"))
        .collect()
    }
    got = {
        r["id"]: (r["s"], r["m"], r["rn"])
        for r in partitioned_running_aggs(
            df,
            ["id"],
            [("v", "s", "sum"), ("v", "m", "max"), ("one", "rn", "sum")],
            bucket=F.floor(F.col("id") / 37),
        ).collect()
    }
    assert got == expect


def test_distributed_prefix_sum_matches_partitionless_window(spark):
    """The planner's range-partitioned prefix sum (spark_partition_id
    carry buckets) must agree with the global window on an uneven,
    unsorted input — and repartitionByRange's sampling must be stable
    across the helper's two internal evaluations."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.plans.copy_plan import _distributed_prefix_sums

    rows = [(f"/src/{(i * 37) % 101:03d}.bin", ((i * 7919) % 997) + 1)
            for i in range(101)]
    df = spark.createDataFrame(rows, "path STRING, cost BIGINT")
    w = W.orderBy("path").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect = {
        r["path"]: r["c"]
        for r in df.withColumn("c", F.sum("cost").over(w)).collect()
    }
    got = {
        r["path"]: r["c"]
        for r in _distributed_prefix_sums(df, [("cost", "c", "sum")]).collect()
    }
    assert got == expect


def test_nondeterministic_bucket_path_is_materialized(spark):
    """deterministic_bucket=False must pin the bucket-stamped frame to a
    single materialization (localCheckpoint) so the per-bucket totals
    job and the caller's final action cannot disagree on bucket
    assignment when the bucket reads spark_partition_id() downstream
    of repartitionByRange (sampled boundaries re-draw per execution —
    the silent-corruption mode flagged in round-5 ADVICE)."""
    from pyspark.sql import functions as F

    from distcpplus_spark.operators.scale import partitioned_running_agg

    df = spark.range(500).selectExpr("CAST(id AS STRING) AS path",
                                     "id + 1 AS cost")
    ranged = df.repartitionByRange(8, "path")
    out = partitioned_running_agg(
        ranged, ["path"], "cost", "c", F.spark_partition_id(),
        deterministic_bucket=False,
    )
    import re

    def stamped_frame_is_rdd_scan(frame):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        # a LogicalRDD whose output carries the _rab stamp = the
        # bucket-stamped frame was materialized; the tiny carry_df is
        # also a LogicalRDD but only ever outputs _carry_* columns
        return any(
            "LogicalRDD" in ln and re.search(r"\b_rab#", ln)
            for ln in plan.splitlines()
        )

    # the stamped frame must enter the final plan as a materialized RDD
    # scan, not as the re-evaluable repartitionByRange lineage
    assert stamped_frame_is_rdd_scan(out)
    # and the deterministic path must NOT pay the checkpoint
    out2 = partitioned_running_agg(
        df, ["path"], "cost", "c", F.floor(F.col("cost") / 64)
    )
    assert not stamped_frame_is_rdd_scan(out2)


def test_prefix_sum_partition_id_bucket_large_unsampled(spark):
    """Exercise the materialized path on an input large enough that
    repartitionByRange's reservoir sample (~100 rows/partition) cannot
    see every row — the regime where unpinned boundary assignment can
    shift between jobs. Results must equal the global window exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import partitioned_running_agg

    df = (
        spark.range(60_000)
        .selectExpr(
            "format_string('p%08d', CAST(pmod(hash(id), 1000000) AS INT) + 1000000) AS path",
            "pmod(hash(id), 13) + 1 AS cost",
        )
        .dropDuplicates(["path"])
    )
    w = W.orderBy("path").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect = {
        r["path"]: r["c"]
        for r in df.withColumn("c", F.sum("cost").over(w)).collect()
    }
    ranged = df.repartitionByRange(16, "path")
    got = {
        r["path"]: r["c"]
        for r in partitioned_running_agg(
            ranged, ["path"], "cost", "c", F.spark_partition_id(),
            deterministic_bucket=False,
        ).collect()
    }
    assert got == expect


def test_distributed_ranks_matches_global_window(spark):
    """rank/dense_rank/row_number/ntile from distributed_ranks must
    equal the single-task global window exactly — including ties,
    NULL order keys, and the NTILE uneven-split boundary."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import distributed_ranks

    # 10_007 rows (prime, so ntile(7) splits unevenly), heavy ties on
    # the rank key, ~1% NULL keys
    df = spark.range(10_007).select(
        F.col("id"),
        F.when(F.pmod(F.col("id"), 97) == 0, None)
        .otherwise(F.pmod(F.hash("id"), 50))
        .alias("k"),
    )
    w = W.orderBy(F.col("k").asc(), F.col("id").asc())
    wk = W.orderBy(F.col("k").asc())
    expect = {
        r["id"]: (r["rk"], r["dr"], r["rn"], r["nt"])
        for r in df.select(
            "id",
            F.rank().over(wk).alias("rk"),
            F.dense_rank().over(wk).alias("dr"),
            F.row_number().over(w).alias("rn"),
            F.ntile(7).over(w).alias("nt"),
        ).collect()
    }
    got = {
        r["id"]: (r["rk"], r["dr"], r["rn"], r["nt"])
        for r in distributed_ranks(
            df,
            order=[("k", True)],
            tiebreak=[("id", True)],
            rank_col="rk",
            dense_rank_col="dr",
            row_number_col="rn",
            ntile=(7, "nt"),
        ).collect()
    }
    assert got == expect


def test_distributed_ranks_desc_and_tiny_ntile(spark):
    """DESC ordering and the n_rows < n_tiles edge (each row its own
    tile, trailing tiles empty)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import distributed_ranks

    df = spark.range(3).select(F.col("id"), (F.col("id") * 10).alias("v"))
    w = W.orderBy(F.col("v").desc())
    expect = {
        r["id"]: (r["rk"], r["nt"])
        for r in df.select(
            "id",
            F.rank().over(w).alias("rk"),
            F.ntile(5).over(w).alias("nt"),
        ).collect()
    }
    got = {
        r["id"]: (r["rk"], r["nt"])
        for r in distributed_ranks(
            df,
            order=[("v", False)],
            rank_col="rk",
            ntile=(5, "nt"),
        ).collect()
    }
    assert got == expect


def test_distributed_ranks_plan_has_no_global_window(spark):
    """The helper's whole point: its executed plan must contain no
    partition-less Window node."""
    from pyspark.sql import functions as F

    from distcpplus_spark.operators.scale import distributed_ranks
    from tools.audit_windows import global_window_lines

    df = spark.range(1000).select(
        F.col("id"), F.pmod(F.col("id"), 9).alias("k")
    )
    out = distributed_ranks(
        df,
        order=[("k", True)],
        tiebreak=[("id", True)],
        rank_col="rk",
        dense_rank_col="dr",
        row_number_col="rn",
        ntile=(4, "nt"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not global_window_lines(plan), plan


def test_distributed_ranks_percent_and_cume(spark):
    """percent_rank/cume_dist must equal the global window on BOTH
    paths: the distinct-keys pass (ties) and the unique_order
    row-level fast path."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import distributed_ranks

    df = spark.range(5_003).select(
        F.col("id"), F.pmod(F.hash("id"), 40).alias("k")
    )
    wk = W.orderBy(F.col("k").asc())
    expect = {
        r["id"]: (round(r["pr"], 9), round(r["cd"], 9))
        for r in df.select(
            "id",
            F.percent_rank().over(wk).alias("pr"),
            F.cume_dist().over(wk).alias("cd"),
        ).collect()
    }
    got = {
        r["id"]: (round(r["pr"], 9), round(r["cd"], 9))
        for r in distributed_ranks(
            df,
            order=[("k", True)],
            percent_rank_col="pr",
            cume_dist_col="cd",
        ).collect()
    }
    assert got == expect

    # unique path: order is a total order, so pr/cd come from the
    # row-level prefix only
    wu = W.orderBy(F.col("k").asc(), F.col("id").asc())
    expect_u = {
        r["id"]: (round(r["pr"], 9), round(r["cd"], 9))
        for r in df.select(
            "id",
            F.percent_rank().over(wu).alias("pr"),
            F.cume_dist().over(wu).alias("cd"),
        ).collect()
    }
    got_u = {
        r["id"]: (round(r["pr"], 9), round(r["cd"], 9))
        for r in distributed_ranks(
            df,
            order=[("k", True), ("id", True)],
            unique_order=True,
            percent_rank_col="pr",
            cume_dist_col="cd",
        ).collect()
    }
    assert got_u == expect_u


def test_distributed_ranks_single_row_percent_rank(spark):
    """n=1: percent_rank is defined as 0 (no 0/0)."""
    from pyspark.sql import functions as F

    from distcpplus_spark.operators.scale import distributed_ranks

    df = spark.range(1).select(F.col("id"), F.lit(7).alias("k"))
    rows = distributed_ranks(
        df, order=[("k", True)], percent_rank_col="pr",
        cume_dist_col="cd",
    ).collect()
    assert rows[0]["pr"] == 0.0 and rows[0]["cd"] == 1.0


def test_distributed_ranks_randomized_adversarial_sweep(spark):
    """Seeded randomized equality sweep (round 12): distributed_ranks
    now backs EVERY global rank in the registry (the window-audit
    whitelist is empty), so its equality with the global window gets
    a randomized adversary beyond the hand-picked frames above —
    random tie densities, NULL rates, value ranges (negatives,
    constants), multi-column orders with mixed ASC/DESC, and ragged
    ntile widths. Deterministic seeds, so a failure reproduces."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from distcpplus_spark.operators.scale import distributed_ranks

    for seed in range(6):
        rng = random.Random(1000 + seed)
        n = rng.choice([1, 2, 17, 501, 2003])
        null_rate = rng.choice([0.0, 0.05, 0.5])
        tie_card = rng.choice([1, 3, 40, 10_000])  # 1 = all-ties
        lo = rng.choice([-1_000_000, -5, 0])
        rows = [
            (
                i,
                None
                if rng.random() < null_rate
                else lo + rng.randrange(tie_card),
                rng.randrange(7),
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id LONG, k LONG, k2 LONG")
        asc1 = rng.choice([True, False])
        asc2 = rng.choice([True, False])
        n_tiles = rng.choice([1, 4, n + 3])
        o1 = F.col("k").asc() if asc1 else F.col("k").desc()
        o2 = F.col("k2").asc() if asc2 else F.col("k2").desc()
        wk = W.orderBy(o1, o2)
        w = W.orderBy(o1, o2, F.col("id").asc())
        cols = ["rk", "dr", "rn", "nt", "pr", "cd"]
        expect = {
            r["id"]: tuple(r[c] for c in cols)
            for r in df.select(
                "id",
                F.rank().over(wk).alias("rk"),
                F.dense_rank().over(wk).alias("dr"),
                F.row_number().over(w).alias("rn"),
                F.ntile(n_tiles).over(w).alias("nt"),
                F.percent_rank().over(wk).alias("pr"),
                F.cume_dist().over(wk).alias("cd"),
            ).collect()
        }
        got = {
            r["id"]: tuple(r[c] for c in cols)
            for r in distributed_ranks(
                df,
                order=[("k", asc1), ("k2", asc2)],
                tiebreak=[("id", True)],
                rank_col="rk",
                dense_rank_col="dr",
                row_number_col="rn",
                ntile=(n_tiles, "nt"),
                percent_rank_col="pr",
                cume_dist_col="cd",
            ).collect()
        }
        assert got == expect, f"seed {seed}: mismatch (n={n})"


def test_exact_percentiles_bit_match_aggregate(spark):
    """operators.scale.exact_percentiles must reproduce Spark's
    percentile aggregate BIT-EXACTLY (it replaces the aggregate's
    single-task value-domain merge with a distributed sorted-counts
    walk): real data plus the edge battery — empty, all-NULL,
    single value, duplicate keys, NULL mixing, integral positions."""
    from pyspark.sql import functions as F

    from distcpplus_spark.catalog import load_table
    from distcpplus_spark.operators.scale import exact_percentiles

    ps = [0.01, 0.5, 0.99, 0.0, 1.0]

    def ref(df, col):
        return df.agg(
            *[F.percentile(col, F.lit(p)).alias(f"_r{i}") for i, p in enumerate(ps)]
        ).collect()[0]

    def check(df, col):
        mine = exact_percentiles(df, col, ps).collect()[0]
        want = ref(df, col)
        for i in range(len(ps)):
            assert mine[f"_p{i}"] == want[f"_r{i}"], (ps[i], mine, want)

    check(load_table(spark, "/root/testdata/sf0.001", "lineitem"),
          "l_extendedprice")
    for rows in (
        [],
        [(None,)] * 5,
        [(42.5,)],
        [(1.0,), (2.0,)],
        [(5.0,)] * 10 + [(7.0,)] * 3,
        [(None,), (3.0,), (1.0,), (None,), (2.0,)],
        [(float(i % 4),) for i in range(101)],  # integral positions + dups
    ):
        check(spark.createDataFrame(rows, "v double"), "v")
