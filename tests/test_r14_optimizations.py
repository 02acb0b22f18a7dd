"""Round-14 optimization equivalence pins.

Each headline rewrite this round (q05 adaptive join order, q11
window-not-join, q13 bit_or distinct masks, q33 arithmetic buckets)
must compute bit-identical results to the round-13 formulation it
replaced. The oracle sweep proves that against DuckDB at fixture SFs;
these tests pin it against the OLD SPARK FORMULATION directly, so a
future edit that drifts one branch (e.g. only the adaptive big-path)
fails here even if the small-path oracle stays green.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distcpplus_spark.catalog import load_table
from distcpplus_spark.queries import load_all_queries, small_sort
from distcpplus_spark.queries.relational import _fits_broadcast

SF = "/root/testdata/sf0.001"


def rows(df):
    return sorted(map(tuple, df.collect()))


# Below the on-disk size of orders/lineitem at sf0.001 (36 KB, 117 KB),
# above the 4 KB a directory's own entry reports
SMALL_THRESHOLD = str(16 * 1024)


def _dir_backed_sf(spark, tmp_path, table):
    """A copy of SF whose ``table`` is a directory of part files, the
    layout Spark writes; the other tables link to SF's files."""
    sf = tmp_path / f"dir_{table}"
    sf.mkdir()
    for name in os.listdir(SF):
        if name != f"{table}.parquet":
            os.symlink(os.path.join(SF, name), sf / name)
    load_table(spark, SF, table).repartition(4).write.parquet(
        str(sf / f"{table}.parquet")
    )
    return str(sf)


def test_q05_both_branches_identical(spark, tmp_path):
    """The size-adaptive branches of q05 must agree: force the big-data
    branch by shrinking the broadcast threshold below orders' on-disk
    size, and compare against the default (small) branch — for a
    single-file table and a directory-backed one. A size that cannot
    be read picks the big branch."""
    queries, _ = load_all_queries()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    assert not _fits_broadcast(spark, str(tmp_path), "orders")
    for sf in (SF, _dir_backed_sf(spark, tmp_path, "orders")):
        assert _fits_broadcast(spark, sf, "orders")
        small = rows(queries["q05_join_inner_q3"](spark, sf))
        try:
            spark.conf.set(key, SMALL_THRESHOLD)
            assert not _fits_broadcast(spark, sf, "orders")
            big = rows(queries["q05_join_inner_q3"](spark, sf))
        finally:
            spark.conf.set(key, old)
        assert small == big and len(small) == 20, sf


def test_q11_window_matches_self_join(spark):
    """Range-frame window == the round-13 self-join + groupBy."""
    queries, _ = load_all_queries()
    got = rows(queries["q11_range_join"](spark, SF))
    ev = load_table(spark, SF, "events")
    e1 = ev.filter(F.col("event_type") == "signup").alias("e1")
    e2 = ev.alias("e2")
    want = rows(
        e1.join(
            e2,
            (F.col("e1.user_id") == F.col("e2.user_id"))
            & (F.col("e2.ts") > F.col("e1.ts"))
            & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("e1.event_id").alias("base_id"))
        .agg(F.count("*").alias("n_following"))
    )
    assert got == want and len(got) > 0


def test_q13_bitor_matches_pair_distinct(spark):
    """bit_or flag masks == the round-13 distinct (flag, key) passes."""
    queries, _ = load_all_queries()
    got = rows(queries["q13_agg_distinct_stats"](spark, SF))
    li = load_table(spark, SF, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
    )
    n_orders = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_orders"))
    )
    n_parts = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_parts"))
    )
    want = rows(
        stats.join(n_orders, "l_returnflag")
        .join(n_parts, "l_returnflag")
        .select("l_returnflag", "n_orders", "n_parts", "sd_qty", "var_disc")
        .transform(small_sort, "l_returnflag")
    )
    assert got == want and len(got) > 0


def test_q33_arith_bucket_matches_time_window(spark):
    """Epoch arithmetic bucket == F.window('10 minutes').start."""
    from distcpplus_spark.queries import money_sum

    queries, _ = load_all_queries()
    got = rows(queries["q33_tumbling_window"](spark, SF))
    ev = load_table(spark, SF, "events")
    want = rows(
        ev.groupBy(
            F.window("ts", "10 minutes").start.alias("win_start"), "event_type"
        ).agg(F.count("*").alias("n"), money_sum(F.col("value")).alias("total"))
    )
    assert got == want and len(got) > 0


def test_q229_array_percentile_matches_separate(spark, tmp_path):
    """q229's winsorized stats == the same stats clipped by two
    separate F.percentile aggregates, bit-exact. q229's bounds now
    come from the size-adaptive branch (shared-buffer
    percentile(col, array(...)) below the size threshold,
    operators.scale.exact_percentiles above it — round 15); both
    branches pin bit-parity with the plain aggregate, so the clipped
    stats must not move by even one ulp. The second input is a
    directory-backed lineitem under a threshold below its summed size,
    which must take the exact_percentiles branch."""
    queries, _ = load_all_queries()
    got = rows(queries["q229_winsorized_stats"](spark, SF))
    dir_sf = _dir_backed_sf(spark, tmp_path, "lineitem")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, SMALL_THRESHOLD)
        assert not _fits_broadcast(spark, dir_sf, "lineitem")
        got_dir = rows(queries["q229_winsorized_stats"](spark, dir_sf))
    finally:
        spark.conf.set(key, old)
    li = load_table(spark, SF, "lineitem")
    bounds = li.agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
    )
    want = rows(
        li.crossJoin(F.broadcast(bounds))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(clipped), 4).alias("avg_winsor"),
            F.round(F.min(clipped), 2).alias("min_winsor"),
            F.round(F.max(clipped), 2).alias("max_winsor"),
        )
        .transform(small_sort, "l_returnflag")
    )
    assert got == want and got_dir == want and len(got) > 0
