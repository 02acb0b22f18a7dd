"""Core relational operator surface (SURVEY.md §2b table 1).

Every query is written with the DataFrame API so Catalyst owns the
physical plan (broadcast selection, pushdown, codegen); the oracle is
the equivalent ANSI SQL for DuckDB. Scale notes are inline per query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from distcpplus_spark.catalog import load_table
from distcpplus_spark.operators.scale import distributed_ranks
from distcpplus_spark.queries import money_sum, money_sum_2dec, query, small_sort


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_BYTE_SUFFIXES = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Read a Spark byte-size conf as an int.

    Session values SET programmatically come back as bare digits, but
    DEFAULTS come back in Spark's byte-string form ("10485760b",
    "10m", "64MB") — the driver runs a stock session, so both forms
    must parse. Unparseable/negative (-1 = broadcast disabled) values
    fall back to ``default``.
    """
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    if raw.endswith(("kb", "mb", "gb", "tb")):
        mult, raw = _BYTE_SUFFIXES[raw[-2]], raw[:-2]
    elif raw and raw[-1] in _BYTE_SUFFIXES:
        mult, raw = _BYTE_SUFFIXES[raw[-1]], raw[:-1]
    try:
        val = int(raw) * mult
    except ValueError:
        return default
    return val if val > 0 else default


def _disk_bytes(path: str) -> int:
    """Bytes in a file or a directory tree; OSError if unreadable."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(_disk_bytes(e.path) for e in os.scandir(path))


def _fits_broadcast(spark: SparkSession, sf_dir: str, table: str) -> bool:
    """The size probe of the size-adaptive branches (q05, q229): does
    ``<sf_dir>/<table>.parquet``, a file or a directory of part files,
    fit the broadcast threshold on disk? A size that cannot be read
    counts as large, so the scale-safe branch runs."""
    try:
        size = _disk_bytes(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        return False
    return size <= _bytes_conf(
        spark, "spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024
    )


# ---------------------------------------------------------------------------
# Family 1-2: scan / project / cast / filter
# ---------------------------------------------------------------------------


@query(
    "q01_scan_count",
    oracle="SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
)
def q01_scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan count. Parquet footer metadata makes this near-free."""
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "q02_project_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS qty_int,
           CAST(round(l_extendedprice, 2) AS DOUBLE) AS price2
    FROM lineitem
    WHERE l_orderkey < 1000
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q02_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + cast. Column pruning: scan reads only 4 columns."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty_int"),
            F.round("l_extendedprice", 2).alias("price2"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q03_filter_in_between",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice BETWEEN 1000 AND 200000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q03_filter_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN + BETWEEN predicates — both push down to the parquet scan.
    Money sums use exact cent units (money_sum — the q118 sf3
    lesson: double partial-sum order flips the rounded cent)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_totalprice").between(1000, 200000)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            money_sum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q04_filter_like_regex_null",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE '%al%'
      AND regexp_matches(p_type, '^(STANDARD|SMALL)')
      AND p_brand IS NOT NULL
    ORDER BY p_partkey
    """,
)
def q04_filter_like_regex_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE, regex, and null-test predicates."""
    return (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_name").like("%al%")
            & F.col("p_type").rlike("^(STANDARD|SMALL)")
            & F.col("p_brand").isNotNull()
        )
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Family 3-4: joins (inner/left/right/full/semi/anti)
# ---------------------------------------------------------------------------


@query(
    "q05_join_inner_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) + 50) // 100) / 100.0 AS DOUBLE)
               AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def q05_join_inner_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way inner join + agg + top-k.

    Round-14 optimization (guide §3.2/§2.3 — reduce the big side
    before it meets the fact table), SIZE-ADAPTIVE join order: the
    BUILDING-segment filter is the only selective predicate, and it
    lives on customer.

    - While orders itself fits the session broadcast threshold (the
      same statistic Catalyst consults), the round-13 order is kept:
      li⋈bcast(orders)⋈bcast(cust) builds its two broadcasts
      INDEPENDENTLY and lineitem never shuffles — measured 0.57 s vs
      0.83 s at sf0.1, where chaining the broadcasts (below) only
      serializes the critical path.
    - Past the threshold (sf3+: orders 80 MB+ on disk), joining
      orders⋈broadcast(customer) FIRST keeps ~1/5 of orders and
      projects it to (o_orderkey, o_orderdate) — a partner ~25×
      slimmer than raw orders, broadcastable well past sf3, so the
      60M-row lineitem side is STILL never shuffled; even past that
      the l⋈o exchange carries 1/5 the rows. Measured 3.91→1.48 s at
      sf3.

    Inner joins commute: both orders are result-identical
    (oracle-checked at sf0.01/sf0.1; probe-checked at sf3). At 100 TB,
    bucketing lineitem+orders on orderkey removes the residual shuffle
    entirely.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    if _fits_broadcast(spark, sf_dir, "orders"):
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
    else:
        bo = orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        ).select("o_orderkey", "o_orderdate")
        joined = li.join(bo, li.l_orderkey == F.col("o_orderkey"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            money_sum_2dec(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


@query(
    "q06_join_multiway_q5",
    oracle="""
    SELECT n_name,
           CAST(((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) + 50) // 100) / 100.0 AS DOUBLE)
               AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q06_join_multiway_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join. Dims broadcast; facts shuffle once.

    Round-14 optimization (guide §3.2/§2.3 — reduce the big side
    BEFORE it is shuffled): the region filter reaches lineitem FIRST.
    supplier⋈nation⋈ASIA-region (a few-KB dim product) broadcasts
    against lineitem as join #1, dropping ~4/5 of the fact rows —
    r_name='ASIA' keeps 5 of 25 nations and suppliers are uniform over
    nations — before lineitem meets orders. Below the broadcast
    threshold nothing shuffles either way, but every downstream join
    streams 1/5 of the rows (sf0.1: 0.67→0.51 s); past it (sf10:
    orders ~260 MB) the l⋈o exchange carries ~12M instead of 60M
    lineitem rows. Inner joins commute, the
    c_nationkey=s_nationkey conjunct moves intact to the customer
    join — result-identical (oracle-checked), only the order changes.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(F.broadcast(asia_supp), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            money_sum_2dec(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .transform(small_sort, F.desc("revenue"), "n_name")
    )


@query(
    "q07_join_left",
    oracle="""
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q07_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@query(
    "q08_join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    ORDER BY nationkey
    """,
)
def q08_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    cn = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cn.join(sn, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "q09_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 150000)
    ORDER BY c_custkey
    """,
)
def q09_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having a large order."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q10_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def q10_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders (the reference's -update
    core semantics, DistCpUtils.java:239-291, generalized)."""
    cust = _t(spark, sf_dir, "customer")
    fin = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(fin, cust.c_custkey == fin.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q11_range_join",
    oracle="""
    SELECT e1.event_id AS base_id,
           CAST(count(*) AS BIGINT) AS n_following
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    WHERE e1.event_type = 'signup'
    GROUP BY e1.event_id
    ORDER BY base_id
    """,
)
def q11_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: events within 1h after each signup, same user.

    Scale: the user_id equi-component makes this a hash join with a
    range residual — without it, this degenerates to a broadcast
    nested-loop O(n^2). Never ship a pure theta join over a fact table.

    Round-14 optimization (guide §2.4 — remove shuffles outright): the
    self-join + count is a RANGE-FRAME WINDOW in disguise. Partition
    events once by user_id, order by microsecond epoch, and count rows
    in the value frame [ts+1µs, ts+1h]: exactly (e2.ts > e1.ts) AND
    (e2.ts <= e1.ts + 1h) because `ts` is integral microseconds (the
    frame is value-based, so equal-timestamp peers are excluded just
    as the strict > did). One exchange of events replaces the join's
    two shuffled sides PLUS the post-join groupBy(event_id) exchange;
    Spark's range-frame count is a linear two-pointer scan per
    partition. The n_following > 0 filter reproduces the inner join's
    drop-signups-with-no-followers semantics. Result-identical
    (oracle-checked); 2.72→1.48 s at sf3, 5.8→2.3 s at sf10.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(1, 3_600_000_000)
    )
    return (
        ev.select("event_id", "user_id", "ts", "event_type")
        .withColumn("n_following", F.count(F.lit(1)).over(w))
        .filter((F.col("event_type") == "signup") & (F.col("n_following") > 0))
        .select(F.col("event_id").alias("base_id"), "n_following")
        .orderBy("base_id")
    )


# ---------------------------------------------------------------------------
# Family 6-7: aggregation (hash agg, distinct, rollup/cube/grouping sets,
# percentile)
# ---------------------------------------------------------------------------


@query(
    "q12_agg_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS sum_base_price,
           CAST(((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) + 50) // 100) / 100.0 AS DOUBLE)
               AS sum_disc_price,
           CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty,
           CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q12_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical scan→filter→hash-agg→sort spine.

    Map-side partial aggregation keeps the shuffle at |groups| rows.
    """
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)))
            .cast("double").alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum_2dec(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(small_sort, "l_returnflag", "l_linestatus")
    )


@query(
    "q13_agg_distinct_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(round(stddev_samp(l_quantity), 6) AS DOUBLE) AS sd_qty,
           CAST(round(var_samp(l_discount), 6) AS DOUBLE) AS var_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q13_agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) ×2 + statistical aggregates.

    Written as three pruned passes joined on the 3-row group key
    instead of a single agg with two countDistinct's: Catalyst plans
    the latter as an Expand that triples every input row before the
    shuffle. Each pass here scans only the 2 columns it needs (parquet
    column pruning).

    Round-14 optimization (guide §2.3 — shuffle fewer bytes /
    aggregate before you shuffle): the distinct passes no longer
    shuffle |distinct (flag, key)| pairs. l_returnflag is 3-valued, so
    each key's flag SET is a ≤62-bit mask: groupBy(key).agg(bit_or(
    flag_bit)) partial-aggregates map-side to |distinct key| rows of
    two fixed-width longs (~2-3× fewer rows, pure Tungsten codegen),
    and the per-flag distinct counts are then partial-aggregated SUMS
    of mask bits — no further exchange. The flag→bit mapping is
    collected up front (one dictionary-column scan, 3 rows); NULL
    flags never reach the output either way (the stats join is inner
    on l_returnflag), so dropping them from the mask is
    result-identical (oracle-checked). Falls back to the distinct-pair
    formulation if the flag cardinality exceeds 62 (cannot happen on
    lattice data, but the operator stays total). Measured 3.72→2.61 s
    at sf3. NOTE: collecting the mapping makes query CONSTRUCTION run
    one small Spark job (same eager-contract caveat as
    brute_force_topk). At scale prefer approx_count_distinct when
    tolerance allows.
    """
    li = _t(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
    )
    flags = sorted(
        r[0]
        for r in li.select("l_returnflag").distinct().collect()
        if r[0] is not None
    )
    # bitor path needs the flag literals inside a stack() SQL string:
    # require simple alphanumeric values (true for lattice flags) so no
    # quoting issue can arise; anything else takes the total fallback.
    if 0 < len(flags) <= 62 and all(f_.isalnum() for f_ in flags):
        mapping = F.lit(None).cast("long")
        for flag, b in ((f_, 1 << i) for i, f_ in enumerate(flags)):
            mapping = F.when(F.col("l_returnflag") == flag, b).otherwise(mapping)

        def distinct_counts(key: str, out: str) -> DataFrame:
            masks = (
                li.select(F.col(key).alias("_k"), mapping.alias("_b"))
                .groupBy("_k")
                .agg(F.bit_or("_b").alias("_m"))
            )
            wide = masks.agg(
                *(
                    F.sum(F.shiftright(F.col("_m"), i).bitwiseAND(1)).alias(f"_c{i}")
                    for i in range(len(flags))
                )
            )
            pairs = ", ".join(f"'{f_}', _c{i}" for i, f_ in enumerate(flags))
            return wide.select(
                F.expr(f"stack({len(flags)}, {pairs}) AS (l_returnflag, {out})")
            )

        n_orders = distinct_counts("l_orderkey", "n_orders")
        n_parts = distinct_counts("l_partkey", "n_parts")
    else:  # >62 distinct flags (or empty input): pair-distinct fallback
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
    return (
        stats.join(n_orders, "l_returnflag")
        .join(n_parts, "l_returnflag")
        .select("l_returnflag", "n_orders", "n_parts", "sd_qty", "var_disc")
        .transform(small_sort, "l_returnflag")
    )


@query(
    "q14_rollup",
    oracle="""
    SELECT n_name, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, o_orderpriority)
    ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over nation × priority (hierarchical totals)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("n_name", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            money_sum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy(
            F.col("n_name").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q15_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority (all marginal totals)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q16_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


@query(
    "q17_percentile",
    oracle="""
    SELECT o_orderpriority,
           CAST(round(quantile_cont(o_totalprice, 0.5), 4) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(o_totalprice, 0.9), 4) AS DOUBLE) AS p90
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q17_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (approx variants are smoke-only —
    their results are impl-defined and cannot hash-match an oracle)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Family 8-9: windows, sort/limit/top-k
# ---------------------------------------------------------------------------


@query(
    "q18_window_topk_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    )
    WHERE rn <= 3 AND c_custkey < 200
    ORDER BY c_custkey, rn
    """,
)
def q18_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number window.

    Scale: Spark rewrites rank-filter windows into a per-partition
    top-k (WindowGroupLimit) before the shuffle — no full sort.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rn") <= 3) & (F.col("c_custkey") < 200))
        .orderBy("c_custkey", "rn")
    )


@query(
    "q19_window_running_sum",
    oracle="""
    SELECT d, CAST(dc / 100.0 AS DOUBLE) AS daily,
           CAST(sum(dc) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / 100.0 AS DOUBLE) AS running_total
    FROM (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS dc
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    ORDER BY d
    """,
)
def q19_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue by day: daily agg → distributed cumulative sum.

    The input is already one row per day, but even that cumulative is
    expressed as the two-phase prefix sum (per-year buckets + carry-in
    offsets) so the plan carries no partition-less window — the same
    query shape then survives a raw-fact-grain running total at 100 TB.

    The whole chain runs in EXACT integer cents (q118 discipline):
    the two-phase carry's addition ASSOCIATION differs from the
    oracle's sequential window scan, so double cents would drift at
    cumulative magnitudes; BIGINT cents make both associations equal.
    """
    from distcpplus_spark.operators.scale import partitioned_running_agg

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("dc")
        )
    )
    run = partitioned_running_agg(
        daily, ["d"], "dc", "_rt", bucket=F.year("d")
    )
    return (
        run.select(
            "d",
            (F.col("dc") / 100.0).alias("daily"),
            (F.col("_rt") / 100.0).alias("running_total"),
        )
        .orderBy("d")
    )


@query(
    "q20_window_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           CAST(round(value - lag(value) OVER w, 6) AS DOUBLE) AS delta_prev,
           lead(event_type) OVER w AS next_type
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
)
def q20_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event time."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q21_window_rank_ntile",
    oracle="""
    SELECT s_suppkey,
           CAST(rank() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT)
               AS bal_rank,
           CAST(dense_rank() OVER (ORDER BY s_nationkey) AS BIGINT) AS nat_dr,
           CAST(ntile(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT)
               AS quartile
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def q21_window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over supplier — DISTRIBUTED.

    supplier is a dimension table, but it still grows with SF (10k
    rows per SF unit): a partition-less ``Window.orderBy`` here was
    the one whitelist entry in the global-window audit whose frame
    grows with data (round-10 verdict item 2). Both global orderings
    now go through :func:`operators.scale.distributed_ranks` (range
    repartition + two-phase prefix sum):

    * ``bal_rank``: the (acctbal DESC, suppkey) order is UNIQUE, so
      rank() has no ties and equals row_number — one row-level
      prefix sum.
    * ``quartile``: ntile(4) derived from that row_number + the
      total count (standard SQL NTILE split).
    * ``nat_dr``: dense_rank over s_nationkey via the ranked
      DISTINCT-keys path (25 keys, never the full table, through
      the prefix machinery).
    """
    ranked = distributed_ranks(
        _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_acctbal", "s_nationkey"
        ),
        order=[("s_acctbal", False), ("s_suppkey", True)],
        row_number_col="_bal_rn",
        ntile=(4, "_q4"),
    )
    ranked = distributed_ranks(
        ranked,
        order=[("s_nationkey", True)],
        dense_rank_col="_nat_dr",
    )
    return (
        ranked.select(
            "s_suppkey",
            F.col("_bal_rn").cast("bigint").alias("bal_rank"),
            F.col("_nat_dr").cast("bigint").alias("nat_dr"),
            F.col("_q4").cast("bigint").alias("quartile"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q22_topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q22_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge), never a full sort."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Family 10: set operations
# ---------------------------------------------------------------------------


@query(
    "q23_except",
    oracle="""
    SELECT n_nationkey FROM nation
    EXCEPT
    SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 5000
    ORDER BY n_nationkey
    """,
)
def q23_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations without a high-balance supplier."""
    nations = _t(spark, sf_dir, "nation").select("n_nationkey")
    supp_nations = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("n_nationkey"))
    )
    return nations.exceptAll(supp_nations.distinct()).distinct().orderBy("n_nationkey")


@query(
    "q24_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def q24_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@query(
    "q25_union_distinct",
    oracle="""
    SELECT nationkey, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey FROM supplier
    )
    GROUP BY nationkey
    ORDER BY nationkey
    """,
)
def q25_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + group (the distinct-union pattern without the
    double shuffle a UNION-then-DISTINCT would cost)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        c.unionByName(s)
        .groupBy("nationkey")
        .agg(F.count("*").alias("n"))
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Family 11: scalar function library
# ---------------------------------------------------------------------------


@query(
    "q26_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           lower(p_type) AS type_lo,
           substr(p_name, 1, 5) AS name5,
           CAST(length(p_name) AS BIGINT) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(concat(' ', p_name, ' ')) AS trimmed,
           replace(p_type, ' ', '_') AS type_us,
           regexp_extract(p_type, '^(\\w+)', 1) AS first_word
    FROM part
    WHERE p_partkey < 100
    ORDER BY p_partkey
    """,
)
def q26_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 100)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_up"),
            F.lower("p_type").alias("type_lo"),
            F.substring("p_name", 1, 5).alias("name5"),
            F.length("p_name").cast("bigint").alias("name_len"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
            F.regexp_extract("p_type", r"^(\w+)", 1).alias("first_word"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q27_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                          o_orderdate) AS BIGINT) AS days_since_95,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey < 500
    ORDER BY o_orderkey
    """,
)
def q27_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
            F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
            )
            .cast("bigint")
            .alias("days_since_95"),
            F.date_add(F.col("o_orderdate"), 30).alias("due_date"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q28_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(abs(l_discount - 0.05), 6) AS DOUBLE) AS adisc,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(round(power(l_quantity, 2), 4) AS DOUBLE) AS qty_sq,
           CAST(round(ln(l_extendedprice), 6) AS DOUBLE) AS price_ln,
           CAST(round(sqrt(l_quantity), 6) AS DOUBLE) AS qty_sqrt,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
    FROM lineitem
    WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q28_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("adisc"),
            F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
            F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
            F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
            F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
            F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
            (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod7"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q29_conditional_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 100000 THEN 'big'
                WHEN o_totalprice > 10000 THEN 'mid'
                ELSE 'small' END AS size_class,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
           CAST(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END
                AS BIGINT) AS is_urgent
    FROM orders
    WHERE o_orderkey < 500
    ORDER BY o_orderkey
    """,
)
def q29_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/coalesce/nullif conditional family."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 100000, "big")
            .when(F.col("o_totalprice") > 10000, "mid")
            .otherwise("small")
            .alias("size_class"),
            F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
                "status_label"
            ),
            F.when(F.col("o_orderpriority").like("1%"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_urgent"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Family 12-13: array / higher-order functions, JSON
# ---------------------------------------------------------------------------


@query(
    "q30_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(round(embedding[1], 6) AS DOUBLE) AS e0,
           CAST(round(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE))), 5) AS DOUBLE) AS vec_sum,
           CAST(round(list_max(list_transform(embedding,
                x -> CAST(x AS DOUBLE))), 6) AS DOUBLE) AS vec_max,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
    FROM embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
)
def q30_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column."""
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            "vec_id",
            F.size("embedding").cast("bigint").alias("dim"),
            F.round(F.element_at("embedding", 1), 6).alias("e0"),
            F.round(
                F.aggregate(
                    "embedding",
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x.cast("double"),
                ),
                5,
            ).alias("vec_sum"),
            F.round(F.array_max(F.transform("embedding", lambda x: x.cast("double"))), 6).alias("vec_max"),
            F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
        )
        .orderBy("vec_id")
    )


@query(
    "q31_explode",
    oracle="""
    SELECT pos, CAST(round(avg(val), 6) AS DOUBLE) AS avg_val,
           CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT CAST(t.i - 1 AS BIGINT) AS pos,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      WHERE vec_id < 200
    )
    GROUP BY pos
    ORDER BY pos
    """,
)
def q31_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of the embedding array → per-dimension stats."""
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy(F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("avg_val"),
            F.count("*").alias("n"),
        )
        .orderBy("pos")
    )


@query(
    "q32_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(avg(value), 6) AS DOUBLE) AS avg_value
    FROM events
    GROUP BY k
    ORDER BY k
    """,
)
def q32_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON key extraction from events.props."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Family 14: time buckets (batch semantics of the streaming surface)
# ---------------------------------------------------------------------------


@query(
    "q33_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total
    FROM events
    GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def q33_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window aggregation (batch twin of the
    streaming query in distcpplus_spark.streaming).

    Round-14 optimization (guide §1.2 step 2 — per-task work): the
    batch path computes the bucket arithmetically (µs epoch minus
    pmod), replacing F.window()'s struct construction + projection —
    the TimeWindow expression builds a (start, end) struct per row
    only for .start to discard half of it, and its non-trivial
    expression tree defeats some codegen fusion. Tumbling windows are
    epoch-aligned in both formulations, so the grouping keys are
    bit-identical (oracle-checked). Measured 0.92→0.62 s at sf3. The
    streaming twin keeps F.window() — state-store windowing needs the
    real TimeWindow operator.
    """
    us = F.unix_micros(F.col("ts"))
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.timestamp_micros(us - F.pmod(us, F.lit(600_000_000))).alias(
                "win_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            money_sum(F.col("value")).alias("total"),
        )
        .transform(small_sort, "win_start", "event_type")
    )


@query(
    "q34_sliding_window",
    oracle="""
    SELECT win_start, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total
    FROM (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE, value
      FROM events
    )
    GROUP BY win_start
    ORDER BY win_start
    """,
)
def q34_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5: each event lands in 2 windows.
    Oracle expresses the same via two shifted 5-minute buckets."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").start.alias("win_start"))
        .agg(
            F.count("*").alias("n"),
            money_sum(F.col("value")).alias("total"),
        )
        .orderBy("win_start")
    )


@query(
    "q35_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 20
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q35_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user. Spark's session_window
    does this natively; the oracle uses gaps-and-islands SQL."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            money_sum(F.col("value")).alias("total"),
        )
        .select("user_id", "session_start", "n_events", "total")
        .orderBy("user_id", "session_start")
    )
