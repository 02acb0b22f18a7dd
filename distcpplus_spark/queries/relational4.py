"""Round-6 relational additions: the TPC-H shapes not yet covered —
Q8 (market share), Q9 (profit by nation/year), Q11 (important
stock), Q16 (supplier variety), Q18 (large orders). The fixture has
no partsupp table, so Q9/Q11/Q16 adapt their partsupp-resident
predicates onto lineitem/supplier equivalents with the shape (join
tree, subquery structure, aggregation) kept intact — each docstring
notes the adaptation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distcpplus_spark.catalog import load_table
from distcpplus_spark.queries import local_rows, money_sum, money_sum_2dec, query, small_sort


@query(
    "q162_market_share_q8",
    oracle="""
    SELECT o_year,
           CAST(round(sum(CASE WHEN nation = 'NATION_5' THEN volume_e4
                               ELSE 0 END) / sum(volume_e4), 6) AS DOUBLE)
               AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS volume_e4,
             n2.n_name AS nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    ) v
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q162_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the 8-table join tree with a
    conditional-sum ratio per year. Plan shape at any scale: every
    dimension side (region→nation→customer chain, supplier→nation,
    part) broadcasts; lineitem⋈orders is the one real shuffle —
    identical to q06's Q5 pattern with one more dimension hop."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    n1 = nat.alias("n1")
    n2 = nat.alias("n2")
    v = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
            F.col("n1.n_regionkey") == reg.r_regionkey,
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            li.l_partkey == part.p_partkey,
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            # exact 1e-4 units (q118 discipline): the ratio of two
            # exact BIGINT sums is the same double in both engines
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            ).cast("long").alias("volume_e4"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    share = v.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("nation") == "NATION_5", F.col("volume_e4"))
                .otherwise(F.lit(0))
            )
            / F.sum("volume_e4"),
            6,
        ).alias("mkt_share")
    )
    return small_sort(share, "o_year")


@query(
    "q163_product_profit_q9",
    # profit summed in EXACT integer 1e-4 units (extendedprice is
    # cents-exact, discount is hundredths, retailprice tenths,
    # quantity integral), then divided once at the end: a float
    # sum of ~1.6e8 magnitude over millions of rows diverges between
    # Spark's and DuckDB's partial-sum orders right at the cent
    # rounding boundary — the sf1 sweep caught exactly that
    oracle="""
    SELECT nation, o_year,
           CAST(round(sum(amount_e4) / 10000.0, 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
               - 600 * CAST(round(p.p_retailprice * 10) AS BIGINT)
                     * CAST(l.l_quantity AS BIGINT) AS amount_e4
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q163_product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit per supplier nation per
    year over a LIKE-filtered part set. Adaptation: the fixture has
    no partsupp, so ps_supplycost is proxied as 0.6·p_retailprice
    (same join tree minus one hop, same arithmetic shape). The LIKE
    filter prunes part BEFORE the broadcast — the build side is the
    filtered dimension, not the full table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    profit = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(
            F.broadcast(part.filter(F.col("p_name").like("%red%"))),
            li.l_partkey == part.p_partkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
                - 600
                * F.round(F.col("p_retailprice") * 10).cast("bigint")
                * F.col("l_quantity").cast("bigint")
            ).alias("amount_e4"),
        )
    )
    out = profit.groupBy("nation", "o_year").agg(
        F.round(F.sum("amount_e4") / 10000.0, 2).alias("sum_profit")
    )
    return small_sort(out, F.asc("nation"), F.desc("o_year"))


@query(
    "q164_important_stock_q11",
    oracle="""
    WITH supp_val AS (
      SELECT l.l_partkey AS p_partkey, sum(l.l_extendedprice) AS val
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey
    )
    SELECT p_partkey, CAST(round(val, 2) AS DOUBLE) AS value
    FROM supp_val
    WHERE val > (SELECT 2.0 * avg(val) FROM supp_val)
    ORDER BY value DESC, p_partkey
    """,
)
def q164_important_stock_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part value held by one
    nation's suppliers, kept only when above a fraction of the
    nation's MEAN per-part value — the group-by + scalar-subquery-
    threshold shape. Adaptations: value = sum of lineitem extended
    price (no partsupp), and the bar is 2x the mean rather than
    Q11's fixed fraction (which the benchmark itself divides by SF
    because a constant fraction empties as part count grows — the
    mean-multiple is the scale-free equivalent). The threshold is a
    broadcast one-row crossJoin, not a collected literal, so it
    never hardcodes into the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    supp_val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nat.filter(F.col("n_name") == "NATION_3")),
            supp.s_nationkey == nat.n_nationkey,
        )
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("l_extendedprice").alias("val"))
    )
    total = supp_val.agg((2.0 * F.avg("val")).alias("_thr"))
    out = (
        supp_val.crossJoin(F.broadcast(total))
        .filter(F.col("val") > F.col("_thr"))
        .select("p_partkey", F.round("val", 2).alias("value"))
    )
    return small_sort(out, F.desc("value"), F.asc("p_partkey"))


@query(
    "q165_parts_supplier_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 2, 3, 4, 5)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q165_parts_supplier_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct supplier
    count per (brand, type, size) bucket with exclusion predicates
    and a NOT IN anti-join on a supplier blacklist. Adaptation: the
    part↔supplier relation is lineitem (no partsupp) and the
    'complaints' predicate is s_acctbal < 0. The NOT IN side is tiny
    → broadcast LEFT ANTI join, never a shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    out = (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(pf), li.l_partkey == pf.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
    return small_sort(
        out, F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
    )


@query(
    "q166_large_orders_q18",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(round(o.o_totalprice, 2) AS DOUBLE) AS o_totalprice,
           CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o  ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q166_large_orders_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): the IN-over-grouped-HAVING
    shape. The qualifying-keys subquery is itself an aggregation of
    lineitem — Spark plans it as a semi-join on l_orderkey; both the
    outer join tree and the subquery shuffle on the same key, so AQE
    can reuse the exchange. Top-100 by price bounds the result at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey")
    )
    out = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            big.withColumnRenamed("l_orderkey", "_bk"),
            F.col("o_orderkey") == F.col("_bk"),
            "left_semi",
        )
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
    return out


@query(
    "q174_order_priority_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q174_order_priority_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): date-windowed orders with
    a correlated EXISTS on late-shipping lineitems — planned as a
    LEFT SEMI join keyed on orderkey (the fixture ships l_commitdate-
    free, so the lateness predicate is shipdate > orderdate; the
    EXISTS decorrelation shape is identical)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    win = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    joined = win.join(
        li,
        (win.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > win.o_orderdate),
        "left_semi",
    )
    return small_sort(
        joined.groupBy("o_orderpriority").agg(
            F.count("*").alias("order_count")
        ),
        "o_orderpriority",
    )


@query(
    "q175_revenue_forecast_q6",
    oracle="""
    SELECT CAST(((sum(CAST(round(l_extendedprice * l_discount * 10000)
                           AS BIGINT)) + 50) // 100) / 100.0 AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q175_revenue_forecast_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    filter-everything-then-one-sum query — every predicate reaches
    the parquet scan (PushedFilters), zero joins, one partial+final
    aggregation. The query whole clusters are sized by."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum_2dec(
                F.col("l_extendedprice") * F.col("l_discount")
            ).alias("revenue")
        )
    )


@query(
    "q176_returned_items_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18, 6))), 2)
                AS DOUBLE) AS revenue,
           CAST(round(c.c_acctbal, 2) AS DOUBLE) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q176_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): top-20 customers by lost
    revenue on returned lineitems in a half-year window. The join
    tree shuffles lineitem⋈orders once; customer/nation broadcast;
    top-20 is TakeOrderedAndProject after the aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nat = load_table(spark, sf_dir, "nation")
    out = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            orders.o_orderkey == li.l_orderkey,
        )
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # DECIMAL summation: order-independent exact accumulation,
            # so a revenue sitting on a .xx5 rounding boundary cannot
            # flip between engines the way double sums can
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )
    return out


@query(
    "q177_shipping_modes_q12",
    oracle="""
    SELECT l.l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q177_shipping_modes_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping mode / order priority): conditional counts
    split by priority class over a year of shipments. The fixture has
    no l_shipmode column, so l_linestatus stands in as the grouping
    dimension — the CASE-pivot aggregation shape is Q12's."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )
    return small_sort(out, "ship_class")


@query(
    "q184_schema_evolution_read",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(NULL AS VARCHAR) AS lang
    FROM documents WHERE doc_id < 40
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), CAST(n_chars AS BIGINT), lang
    FROM documents WHERE doc_id >= 40 AND doc_id < 80
    ORDER BY doc_id
    """,
)
def q184_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (mergeSchema): generation 1 of a dataset
    is written WITHOUT the lang column, generation 2 adds it; a
    single mergeSchema parquet read unifies both footers and
    back-fills NULL for the missing column — the lakehouse
    column-add path, no rewrite of old files. The writes happen
    per-invocation into a temp dir (x19's materialize-then-rmtree
    pattern keeps repeated bench runs from accumulating files).
    Scale note: mergeSchema reconciles FOOTERS only (one driver-side
    merge over file metadata), not data — an O(#files) planning cost,
    zero extra data IO."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        docs.filter(F.col("doc_id") < 40).select(
            "doc_id", "n_chars"
        ).write.mode("overwrite").parquet(root + "/gen=1")
        docs.filter(
            (F.col("doc_id") >= 40) & (F.col("doc_id") < 80)
        ).select("doc_id", "n_chars", "lang").write.mode(
            "overwrite"
        ).parquet(root + "/gen=2")
        rows = (
            spark.read.option("mergeSchema", "true")
            .parquet(root + "/gen=1", root + "/gen=2")
            .select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.col("n_chars").cast("bigint").alias("n_chars"),
                "lang",
            )
            .orderBy("doc_id")
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_rows(spark,
        rows, "doc_id BIGINT, n_chars BIGINT, lang STRING"
    ).orderBy("doc_id")


@query(
    "q186_data_quality_checks",
    oracle="""
    SELECT 'not_null(o_custkey)' AS check_name,
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT) AS n_violations,
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
               AS passed
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST(coalesce((SELECT sum(n - 1) FROM (
              SELECT count(*) AS n FROM orders
              WHERE o_orderkey IS NOT NULL
              GROUP BY o_orderkey HAVING count(*) > 1)), 0) AS BIGINT),
           coalesce((SELECT sum(n - 1) FROM (
              SELECT count(*) AS n FROM orders
              WHERE o_orderkey IS NOT NULL
              GROUP BY o_orderkey HAVING count(*) > 1)), 0) = 0
    UNION ALL
    SELECT 'range(o_totalprice)',
           CAST((SELECT count(*) FROM orders
                 WHERE o_totalprice IS NULL
                    OR o_totalprice < 0 OR o_totalprice > 1000000)
                AS BIGINT),
           (SELECT count(*) FROM orders
            WHERE o_totalprice IS NULL
               OR o_totalprice < 0 OR o_totalprice > 1000000) = 0
    UNION ALL
    SELECT 'values(o_orderstatus)',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderstatus IS NULL
                    OR o_orderstatus NOT IN ('O','F','P')) AS BIGINT),
           (SELECT count(*) FROM orders
            WHERE o_orderstatus IS NULL
               OR o_orderstatus NOT IN ('O','F','P')) = 0
    UNION ALL
    SELECT 'fk(l_orderkey)',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0
    UNION ALL
    SELECT 'price_covers_quantity',
           CAST((SELECT count(*) FROM lineitem
                 WHERE NOT coalesce(l_extendedprice >= l_quantity, FALSE))
                AS BIGINT),
           (SELECT count(*) FROM lineitem
            WHERE NOT coalesce(l_extendedprice >= l_quantity, FALSE)) = 0
    ORDER BY check_name
    """,
)
def q186_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification (operators/quality.py,
    deequ/dbt-test style) under the driver's hash gate: six
    constraints over orders/lineitem — not-null, uniqueness, numeric
    range, accepted values, FK integrity, and a custom cross-column
    predicate. All row-local checks fold into ONE aggregation pass;
    unique adds one hash agg and the FK one anti join (broadcast
    when the dimension is small). The oracle recomputes each count
    independently in DuckDB."""
    from distcpplus_spark.operators import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    order_checks = [
        Q.not_null("o_custkey"),
        Q.unique("o_orderkey"),
        Q.accepted_range("o_totalprice", 0, 1_000_000),
        Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
    ]
    li_checks = [
        Q.referential("l_orderkey", orders, "o_orderkey"),
        Q.custom(
            "price_covers_quantity",
            F.col("l_extendedprice") >= F.col("l_quantity"),
        ),
    ]
    report = Q.run_checks(orders, order_checks).unionByName(
        Q.run_checks(lineitem, li_checks)
    )
    return report.transform(small_sort, "check_name")


@query(
    "q188_snapshot_diff",
    oracle="""
    WITH o AS (SELECT doc_id, n_chars, lang FROM documents
               WHERE doc_id < 100),
    n AS (SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0 THEN n_chars * 2
                      ELSE n_chars END AS n_chars,
                 CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END AS lang
          FROM documents WHERE doc_id >= 20 AND doc_id < 120),
    j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                 o.doc_id IS NOT NULL AS in_old,
                 n.doc_id IS NOT NULL AS in_new,
                 list_filter([
                   CASE WHEN o.n_chars IS DISTINCT FROM n.n_chars
                        THEN 'n_chars' END,
                   CASE WHEN o.lang IS DISTINCT FROM n.lang
                        THEN 'lang' END
                 ], x -> x IS NOT NULL) AS changed
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN NOT in_old THEN 'insert'
                WHEN NOT in_new THEN 'delete'
                ELSE 'update' END AS change_type,
           changed AS changed_columns
    FROM j
    WHERE NOT in_old OR NOT in_new OR len(changed) > 0
    ORDER BY doc_id
    """,
)
def q188_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff (operators/upsert.py:snapshot_diff)
    under the driver's hash gate: old = docs <100, new = docs 20-119
    with n_chars doubled every 10th id and lang rewritten every 17th
    — the diff must classify deletes (<20), inserts (>=100), and
    updates with the exact per-column change list (NULL-safe
    comparison). One full-outer join + codegen'd comparisons; the
    oracle mirrors IS DISTINCT FROM semantics and the same
    column-order change list."""
    from distcpplus_spark.operators.upsert import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 100).select(
        "doc_id", "n_chars", "lang"
    )
    new = (
        docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 120))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 0, F.col("n_chars") * 2
            ).otherwise(F.col("n_chars")).alias("n_chars"),
            F.when(F.col("doc_id") % 17 == 0, F.lit("xx"))
            .otherwise(F.col("lang")).alias("lang"),
        )
    )
    return (
        snapshot_diff(old, new, "doc_id", ["n_chars", "lang"])
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "change_type",
            "changed_columns",
        )
        .transform(small_sort, "doc_id")
    )


@query(
    "q189_incremental_agg_merge",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS count_o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS sum_price2,
           CAST(min(o_orderdate) AS TIMESTAMP) AS min_o_orderdate,
           CAST(max(o_orderdate) AS TIMESTAMP) AS max_o_orderdate
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def q189_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py)
    under the driver's hash gate: the per-customer orders aggregate
    is built as TWO independent states (orderkey split odd/even —
    simulating a base snapshot plus a delta load) and merged without
    touching base rows again; the oracle is the from-scratch GROUP
    BY over everything, which the merged state must reproduce
    exactly. Sums round to 2 decimals on both sides (float
    association order differs between one-pass and merged
    computation, the standard cross-engine float rule)."""
    from distcpplus_spark.operators.incremental import (
        agg_state,
        merge_states,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        # exact integer cents (q118 discipline): base/delta/merged
        # states then agree bit-for-bit with the from-scratch oracle
        # regardless of association order
        "tp_cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    specs = [
        ("count", "o_orderkey"),
        ("sum", "tp_cents"),
        ("min", "o_orderdate"),
        ("max", "o_orderdate"),
    ]
    base = agg_state(
        orders.filter(F.col("o_orderkey") % 2 == 0), ["o_custkey"], specs
    )
    delta = agg_state(
        orders.filter(F.col("o_orderkey") % 2 == 1), ["o_custkey"], specs
    )
    merged = merge_states(base, delta, ["o_custkey"], specs)
    return (
        merged.select(
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("count_o_orderkey").cast("bigint")
            .alias("count_o_orderkey"),
            (F.col("sum_tp_cents") / 100.0).alias("sum_price2"),
            F.col("min_o_orderdate").alias("min_o_orderdate"),
            F.col("max_o_orderdate").alias("max_o_orderdate"),
        )
        .transform(small_sort, "o_custkey")
    )


@query(
    "q208_spatial_bucket_join",
    oracle="""
    WITH pts AS (
      SELECT doc_id AS id,
             40.0 + ((doc_id * 48271 + 11) % 500) / 100.0 AS lat,
             ((doc_id * 69621 + 7) % 1000) / 100.0 AS lon
      FROM documents WHERE doc_id < 300
    ),
    cells AS (
      SELECT id, lat, lon,
             CAST(floor(lat) AS BIGINT) AS cy,
             CAST(floor(lon) AS BIGINT) AS cx
      FROM pts
    ),
    expanded AS (
      SELECT c.id, c.lat, c.lon,
             (c.cy + dy) * 1000 + (c.cx + dx) AS probe_cell
      FROM cells c,
           LATERAL unnest([-1, 0, 1]) t1(dy),
           LATERAL unnest([-1, 0, 1]) t2(dx)
    ),
    home AS (
      SELECT id, lat, lon, cy * 1000 + cx AS cell FROM cells
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.lat AS lat_a, a.lon AS lon_a,
             b.lat AS lat_b, b.lon AS lon_b
      FROM expanded a JOIN home b ON a.probe_cell = b.cell
      WHERE a.id < b.id
    ),
    dists AS (
      SELECT id_a, id_b,
             2 * 6371.0 * asin(sqrt(
               sin(radians(lat_b - lat_a) / 2)
                 * sin(radians(lat_b - lat_a) / 2)
               + cos(radians(lat_a)) * cos(radians(lat_b))
                 * sin(radians(lon_b - lon_a) / 2)
                 * sin(radians(lon_b - lon_a) / 2)
             )) AS dist_km
      FROM cand
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(round(dist_km, 3) AS DOUBLE) AS dist_km3
    FROM dists WHERE dist_km <= 75.0
    ORDER BY id_a, id_b
    """,
)
def q208_spatial_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial proximity join under the driver's hash gate: points
    (synthesized by integer mixers — no RNG) bucket into 1-degree
    grid cells; candidate pairs come from each point's 3x3 cell
    neighborhood (one computed-key equi-join — the spatial sibling of
    the LSH band join, NEVER an all-pairs crossJoin); exact haversine
    runs only on candidates, keeping pairs within 75 km. At 100 TB
    the cell id is the shuffle key and skewed megacity cells salt
    exactly like any hot join key. Both engines compute identical
    double-precision trig. Coverage argument for the 3x3 expansion:
    points sit in a 40-45 degree band where 1 degree of latitude is
    ~111 km and 1 degree of longitude is >= 78 km, so any pair
    within 75 km differs by at most 1 cell in each axis."""
    from pyspark.sql.window import Window as W

    from distcpplus_spark.queries import small_sort

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    pts = docs.select(
        F.col("doc_id").alias("id"),
        (40.0 + ((F.col("doc_id") * 48271 + 11) % 500) / 100.0).alias(
            "lat"
        ),
        (((F.col("doc_id") * 69621 + 7) % 1000) / 100.0).alias("lon"),
    )
    cells = pts.select(
        "id", "lat", "lon",
        F.floor("lat").cast("bigint").alias("cy"),
        F.floor("lon").cast("bigint").alias("cx"),
    )
    offsets = local_rows(
        spark,
        [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
        "dy INT, dx INT",
    )
    expanded = cells.crossJoin(F.broadcast(offsets)).select(
        "id", "lat", "lon",
        ((F.col("cy") + F.col("dy")) * 1000 + F.col("cx") + F.col("dx"))
        .alias("probe_cell"),
    )
    home = cells.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        (F.col("cy") * 1000 + F.col("cx")).alias("probe_cell"),
    )
    cand = (
        expanded.join(home, "probe_cell")
        .filter(F.col("id") < F.col("id_b"))
        .select(
            F.col("id").alias("id_a"), F.col("id_b"),
            F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a"),
            "lat_b", "lon_b",
        )
        .distinct()
    )
    dlat = F.radians(F.col("lat_b") - F.col("lat_a")) / 2
    dlon = F.radians(F.col("lon_b") - F.col("lon_a")) / 2
    dist = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.sin(dlat) * F.sin(dlat)
                + F.cos(F.radians("lat_a"))
                * F.cos(F.radians("lat_b"))
                * F.sin(dlon)
                * F.sin(dlon)
            )
        )
    )
    return (
        cand.withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= 75.0)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.round("dist_km", 3).alias("dist_km3"),
        )
        .transform(small_sort, "id_a", "id_b")
    )


@query(
    "q211_parquet_codec_parity",
    oracle="""
    SELECT c.codec,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT sum(o_orderkey) FROM orders) AS BIGINT)
               AS key_sum
    FROM (SELECT unnest(['gzip', 'lz4', 'snappy', 'zstd']) AS codec) c
    ORDER BY c.codec
    """,
)
def q211_parquet_codec_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec coverage under the driver's hash
    gate: the orders table round-trips through gzip, lz4, snappy,
    and zstd parquet writes (all JVM-bundled codecs) and every copy
    re-aggregates identically. Codec choice is the classic 100 TB
    storage trade (zstd ~ gzip ratio at snappy-class decode speed);
    this proves all four lanes work end to end. Fresh temp dir per
    invocation."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    orders = load_table(spark, sf_dir, "orders")
    root = _tf.mkdtemp(prefix="q211_codec_")
    out = []
    try:
        for codec in ("gzip", "lz4", "snappy", "zstd"):
            path = _os.path.join(root, codec)
            orders.write.option("compression", codec).parquet(path)
            row = (
                spark.read.parquet(path)
                .agg(
                    F.count("*").alias("n"),
                    F.sum("o_orderkey").alias("s"),
                )
                .collect()[0]
            )
            out.append((codec, int(row["n"]), int(row["s"])))
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return local_rows(spark,
        out, "codec STRING, n_rows BIGINT, key_sum BIGINT"
    ).orderBy("codec")


@query(
    "q212_python_udtf_explode_stats",
    oracle="""
    WITH words AS (
      SELECT doc_id, word, length(word) AS wlen
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE doc_id < 80)
      WHERE word <> ''
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(max(wlen) AS BIGINT) AS max_word_len
    FROM words GROUP BY doc_id ORDER BY doc_id
    """,
)
def q212_python_udtf_explode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Python UDTF surface (Spark 4 user-defined TABLE function)
    under the driver's hash gate: a lateral-join UDTF tokenizes each
    document into (word, length) rows — one input row, many output
    rows, the table-function contract plain UDFs can't express —
    then a normal aggregation summarizes per document. The oracle is
    the same tokenization in set-based SQL, proving the UDTF lane
    produces exactly the rows a declarative unnest would. UDTFs are
    the escape hatch for row-expanding Python logic (parsers,
    segmenters) when mapInPandas' whole-partition batching is more
    than the job needs."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="word: string, wlen: int")
    class Tokenize:
        def eval(self, text: str):
            if text:
                for word in text.split(" "):
                    if word:
                        yield word, len(word)

    spark.udtf.register("q212_tokenize", Tokenize)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 80
    )
    docs.createOrReplaceTempView("q212_docs")
    out = spark.sql(
        """
        SELECT d.doc_id, t.word, t.wlen
        FROM q212_docs d, LATERAL q212_tokenize(d.text) t
        """
    )
    return (
        out.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.max("wlen").cast("bigint").alias("max_word_len"),
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_words").cast("bigint").alias("n_words"),
            "max_word_len",
        )
        .transform(small_sort, "doc_id")
    )


@query(
    "q213_k_anonymity_audit",
    oracle="""
    WITH qid AS (
      SELECT o_custkey % 100 AS qi_bucket, o_orderpriority,
             count(*) AS grp_n
      FROM orders
      GROUP BY 1, 2
    )
    SELECT CAST(5 AS INTEGER) AS k,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(min(grp_n) AS BIGINT) AS min_group_size
    FROM qid
    """,
)
def q213_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit under the driver's hash gate: group the
    table by its quasi-identifier combination and count the
    equivalence classes smaller than k — the rows a release would
    have to suppress or generalize (Sweeney 2002, public k-anonymity
    model). One hash aggregation over the QI key plus a 1-row
    summary; at 100 TB this is the same shape as any grouped count,
    and the violating-group list (not emitted here) partitions by
    the same key for the follow-up suppression rewrite."""
    orders = load_table(spark, sf_dir, "orders")
    k = 5
    qid = orders.groupBy(
        (F.col("o_custkey") % 100).alias("qi_bucket"),
        "o_orderpriority",
    ).agg(F.count("*").alias("grp_n"))
    return qid.agg(
        F.lit(k).cast("int").alias("k"),
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("grp_n") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(F.when(F.col("grp_n") < k, F.col("grp_n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("grp_n").cast("bigint").alias("min_group_size"),
    )


@query(
    "q215_event_arrival_lag",
    oracle="""
    WITH lagged AS (
      SELECT date_trunc('hour', ts) AS event_hour,
             (event_id % 120) AS lag_s
      FROM events
    )
    SELECT CAST(event_hour AS TIMESTAMP) AS event_hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(quantile_cont(lag_s, 0.5), 4) AS DOUBLE) AS p50_lag_s,
           CAST(round(quantile_cont(lag_s, 0.95), 4) AS DOUBLE)
               AS p95_lag_s,
           CAST(max(lag_s) AS BIGINT) AS max_lag_s
    FROM lagged
    GROUP BY event_hour
    ORDER BY event_hour
    """,
)
def q215_event_arrival_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-observability lag report: per event-time hour, the
    distribution of arrival lag (deterministic synthetic delay) —
    the completeness metric that tells a streaming operator where to
    set watermarks: p95 lag IS the watermark bound that keeps 95% of
    late data. One grouped pass with exact interpolated percentiles
    (KLL tier is the 100 TB downgrade, as with q209)."""
    from distcpplus_spark.queries import small_sort

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("event_hour"),
        (F.col("event_id") % 120).alias("lag_s"),
    )
    return (
        ev.groupBy("event_hour")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.percentile("lag_s", F.lit(0.5)), 4).alias(
                "p50_lag_s"
            ),
            F.round(F.percentile("lag_s", F.lit(0.95)), 4).alias(
                "p95_lag_s"
            ),
            F.max("lag_s").cast("bigint").alias("max_lag_s"),
        )
        .transform(small_sort, "event_hour")
    )


@query(
    "q217_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    totals AS (
      SELECT prev_type, sum(n) AS tot FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.event_type,
           CAST(t.n AS BIGINT) AS n,
           CAST(round(t.n / CAST(tot.tot AS DOUBLE), 6) AS DOUBLE)
               AS p6
    FROM trans t JOIN totals tot USING (prev_type)
    ORDER BY prev_type, event_type
    """,
)
def q217_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event
    sequences: lag within (user, time) order, transition counts, and
    row-normalized probabilities — the behavioral-model summary
    (next-event priors, anomaly scoring) built from ONE user-keyed
    window pass plus one pair-keyed aggregation. Ties in event
    ordering break on event_id, so both engines see identical
    sequences."""
    from pyspark.sql.window import Window as W

    from distcpplus_spark.queries import small_sort

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n")
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (
        trans.join(totals, "prev_type")
        .select(
            "prev_type",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("tot").cast("double"), 6).alias(
                "p6"
            ),
        )
        .transform(small_sort, "prev_type", "event_type")
    )


@query(
    "q218_clustering_coefficient",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
        AND a.l_partkey < 100 AND b.l_partkey < 100
    ),
    sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    degree AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
    tri_per_node AS (
      SELECT node, sum(c) AS tri FROM (
        SELECT e1.u AS node, count(*) AS c
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        GROUP BY e1.u
        UNION ALL
        SELECT e1.v, count(*)
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        GROUP BY e1.v
        UNION ALL
        SELECT e2.v, count(*)
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        GROUP BY e2.v
      ) GROUP BY node
    )
    SELECT CAST(d.u AS BIGINT) AS node,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(t.tri, 0) AS BIGINT) AS n_triangles,
           CAST(round(CASE WHEN d.deg >= 2
                 THEN 2.0 * coalesce(t.tri, 0) / (d.deg * (d.deg - 1))
                 ELSE 0 END, 6) AS DOUBLE) AS clustering6
    FROM degree d LEFT JOIN tri_per_node t ON t.node = d.u
    ORDER BY node
    """,
)
def q218_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per node of the part co-purchase
    graph: oriented triangle enumeration (each triangle found once as
    u<v<w, credited to all three corners) over the q160 wedge-join
    shape, divided by the open-wedge count deg*(deg-1)/2 — the
    community-density measure. Same two hash joins as triangle
    counting plus a degree aggregation; nothing quadratic outside
    the oriented wedge space."""
    from distcpplus_spark.queries import small_sort

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 100
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .persist()
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    degree = sym.groupBy("u").agg(F.count("*").alias("deg"))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    per_node = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("tri"))
    )
    out = (
        degree.join(per_node, degree.u == per_node.node, "left")
        .select(
            F.col("u").cast("bigint").alias("node"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("tri", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce("tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("clustering6"),
        )
    )
    return out.transform(small_sort, "node")


@query(
    "q225_cdc_changelog_apply",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
      FROM customer
    ),
    changes AS (
      SELECT c_custkey AS k, 'U' AS op, c_custkey * 10 + 1 AS seq,
             c_name AS name, c_acctbal + 100 AS bal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 'U', c_custkey * 10 + 2, c_name, c_acctbal + 200
      FROM customer WHERE c_custkey % 14 = 0
      UNION ALL
      SELECT c_custkey, 'D', c_custkey * 10 + 3, NULL, NULL
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'I', c_custkey * 10 + 4,
             'new-' || c_custkey, 0.0
      FROM customer WHERE c_custkey % 11 = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
            AS rn
        FROM changes
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT k, name, bal FROM latest WHERE op <> 'D'
      UNION ALL
      SELECT k, name, bal FROM base
      WHERE k NOT IN (SELECT k FROM latest)
    )
    SELECT k, name, CAST(round(bal, 2) AS DOUBLE) AS bal
    FROM merged ORDER BY k
    """,
)
def q225_cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog fold (operators/upsert.py::apply_changelog —
    the inverse of q188's snapshot_diff): a Debezium-style batch of
    I/U/D changes with MULTIPLE entries per key collapses to
    latest-per-key (window partitioned by key) and merges into the
    base snapshot via one anti-join — the binlog-ingestion primitive
    every lakehouse mirror runs. The changelog is synthesized
    deterministically from the customer table on both engines;
    overlapping rules (a key can get two updates AND a delete) make
    the sequence-order win the thing the hash checks."""
    from distcpplus_spark.operators.upsert import apply_changelog

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    k = F.col("c_custkey")
    changes = (
        cust.filter(k % 7 == 0)
        .select(
            k.alias("k"), F.lit("U").alias("op"),
            (k * 10 + 1).alias("seq"), F.col("c_name").alias("name"),
            (F.col("c_acctbal") + 100).alias("bal"),
        )
        .unionByName(
            cust.filter(k % 14 == 0).select(
                k.alias("k"), F.lit("U").alias("op"),
                (k * 10 + 2).alias("seq"), F.col("c_name").alias("name"),
                (F.col("c_acctbal") + 200).alias("bal"),
            )
        )
        .unionByName(
            cust.filter(k % 5 == 0).select(
                k.alias("k"), F.lit("D").alias("op"),
                (k * 10 + 3).alias("seq"),
                F.lit(None).cast("string").alias("name"),
                F.lit(None).cast("double").alias("bal"),
            )
        )
        .unionByName(
            cust.filter(k % 11 == 0).select(
                (k + 1000000).alias("k"), F.lit("I").alias("op"),
                (k * 10 + 4).alias("seq"),
                F.concat(F.lit("new-"), k.cast("string")).alias("name"),
                F.lit(0.0).alias("bal"),
            )
        )
    )
    out = apply_changelog(base, changes, "k")
    return (
        out.select("k", "name", F.round("bal", 2).alias("bal"))
        .orderBy("k")
    )


@query(
    "q228_sequence_pattern_match",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             string_agg(CASE event_type
                          WHEN 'view' THEN 'v'
                          WHEN 'click' THEN 'c'
                          WHEN 'signup' THEN 's'
                          WHEN 'purchase' THEN 'p'
                          ELSE 'e' END, ''
                        ORDER BY ts, event_id) AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(length(regexp_extract_all(seq, 'vc+p')) AS BIGINT)
               AS n_funnels
    FROM coded
    WHERE length(regexp_extract_all(seq, 'vc+p')) > 0
    ORDER BY user_id
    """,
)
def q228_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence pattern detection (the
    Flink/Trino CEP shape): per user, events collapse to a coded
    string in time order and a regex counts non-overlapping
    view→click+→purchase funnels — the distributed way to run
    arbitrary sequence patterns without a per-row state machine: ONE
    shuffle to group by user, then the regex is codegen'd
    string work per group. Pattern 'vc+p' is greedy-identical in
    Java regex and RE2, and the (ts, event_id) order key is unique,
    so both engines build byte-identical sequences."""
    ev = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("e")
    )
    coded = (
        ev.select("user_id", "ts", "event_id", code.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda s: s["ch"],
                ),
            ).alias("seq")
        )
    )
    out = coded.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.regexp_count("seq", F.lit("vc+p")).cast("bigint").alias(
            "n_funnels"
        ),
    ).filter(F.col("n_funnels") > 0)
    return out.orderBy("user_id")


@query(
    "q229_winsorized_stats",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(avg(least(greatest(l_extendedprice, lo), hi)), 4)
                AS DOUBLE) AS avg_winsor,
           CAST(round(min(least(greatest(l_extendedprice, lo), hi)), 2)
                AS DOUBLE) AS min_winsor,
           CAST(round(max(least(greatest(l_extendedprice, lo), hi)), 2)
                AS DOUBLE) AS max_winsor
    FROM lineitem, bounds
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q229_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the ML-preprocessing outlier clip: values
    outside the exact [p01, p99] of the column clamp to the bounds
    before aggregation. The bounds are ONE tiny exact-percentile
    aggregate broadcast into the clip (a 2-value crossJoin, never a
    per-row subquery); Spark's percentile and DuckDB's quantile_cont
    are both the linear-interpolation definition, so the clip points
    agree to float precision and round-4 stats hash-match.

    Round-14 (guide §2.4/§1.2-1): the bounds come from
    ``operators.scale.exact_percentiles`` — Spark's ``percentile``
    aggregate serializes every partial value→count buffer
    (collectively the whole value domain, ~5M distinct doubles at
    sf3) to ONE final task that merges and sorts it: measured
    50-75 s at sf3 and growing with data. The distributed form
    (groupBy(value) count → range repartition → two-phase prefix
    sum → order statistics by cumulative-count interval) never
    funnels the domain through one task and reproduces
    Percentile.getPercentile BIT-EXACTLY (see the operator
    docstring; bounds hex-compared equal on real data at five SFs,
    equivalence pin in tests/test_r14_optimizations.py). Alternating
    same-session medians, full query: sf3 **56.3→10.0 s**; sf0.1
    3.1 s vs 2.3 s for the superseded shared-buffer aggregate —
    ~0.8 s of extra fixed job overhead locally, paid deliberately
    for the formulation that scales (an intermediate round-14 step
    had deduplicated the two aggregate buffers into one
    ``percentile(col, array(...))``, 5.77→3.43 s at sf0.1, but kept
    the single-task domain merge).

    Round-15 (the round-14 VERDICT's item 3): SIZE-ADAPTIVE, the q05
    device — below the broadcast-threshold-class on-disk size the
    single-task domain merge is harmless and the shared-buffer
    ``percentile(col, array(...))`` aggregate skips
    ``exact_percentiles``'s ~0.8 s of fixed prefix-sum job overhead;
    past it the distributed order statistics take over. Both
    branches produce BIT-IDENTICAL bounds (the exact_percentiles
    parity contract; hex-equal pin in test_r15_optimizations), so
    the branch can never change results."""
    from distcpplus_spark.operators.scale import exact_percentiles
    from distcpplus_spark.queries.relational import _fits_broadcast

    li = load_table(spark, sf_dir, "lineitem")
    if _fits_broadcast(spark, sf_dir, "lineitem"):
        bounds = li.agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.01), F.lit(0.99))
            ).alias("_ps")
        ).select(
            F.col("_ps")[0].alias("lo"), F.col("_ps")[1].alias("hi")
        )
    else:
        bounds = exact_percentiles(
            li, "l_extendedprice", [0.01, 0.99]
        ).select(F.col("_p0").alias("lo"), F.col("_p1").alias("hi"))
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
    )
    out = (
        li.crossJoin(F.broadcast(bounds))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(clipped), 4).alias("avg_winsor"),
            F.round(F.min(clipped), 2).alias("min_winsor"),
            F.round(F.max(clipped), 2).alias("max_winsor"),
        )
    )
    return small_sort(out, "l_returnflag")


@query(
    "q230_embedding_standardize",
    oracle="""
    WITH dims AS (
      SELECT e.vec_id, u.i - 1 AS dim,
             CAST(e.embedding[CAST(u.i AS INTEGER)] AS DOUBLE) AS x
      FROM embeddings e,
           LATERAL unnest(range(1, len(e.embedding) + 1)) u(i)
    ),
    stats AS (
      SELECT dim, avg(x) AS mu, stddev_pop(x) AS sigma
      FROM dims GROUP BY dim
    )
    SELECT d.vec_id,
           CAST(round(sqrt(sum(((d.x - s.mu) / s.sigma) ^ 2)), 4)
                AS DOUBLE) AS std_l2
    FROM dims d JOIN stats s USING (dim)
    WHERE d.vec_id < 100
    GROUP BY d.vec_id
    ORDER BY d.vec_id
    """,
)
def q230_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature standardization of an embedding column
    — the scaler every ANN/clustering stage wants applied first:
    posexplode the array to (vec, dim, x), ONE hash aggregate for
    per-dim mean / population stddev (64 rows of model — broadcast),
    then the standardized L2 norm per vector. At 100 TB the stats
    frame stays dimension-sized regardless of corpus size, and the
    explode never materializes: Tungsten pipelines it into the
    partial aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    stats = dims.groupBy("dim").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    out = (
        dims.filter(F.col("vec_id") < 100)
        .join(F.broadcast(stats), "dim")
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.pow((F.col("x") - F.col("mu")) / F.col("sigma"), 2)
                    )
                ),
                4,
            ).alias("std_l2")
        )
    )
    return out.orderBy("vec_id")


@query(
    "q231_hidden_partitioning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-13 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q231_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning on stock parquet
    (sources/formats.py::hidden_partition_write): events land
    hive-partitioned by derived days(ts) + bucket(user_id, 8)
    columns, the query filters on the SOURCE ts column, and
    hidden_partition_predicates translates that range into a
    partition-directory predicate — the read lists 3 of 30 day
    directories instead of scanning the table (pruning asserted in
    tests/test_plan_properties.py). The oracle checks the filtered
    aggregate against the raw table, proving the layout+translation
    loses nothing at the boundaries. Fresh temp dir per run."""
    import shutil as _sh
    import tempfile as _tf

    from distcpplus_spark.sources.formats import (
        hidden_partition_predicates,
        hidden_partition_write,
    )

    ev = load_table(spark, sf_dir, "events")
    specs = [("p_day", "days", "ts"), ("p_bucket", "bucket", "user_id", 8)]
    root = _tf.mkdtemp(prefix="q231_hp_")
    try:
        hidden_partition_write(
            ev.select("event_id", "ts", "user_id", "event_type", "value"),
            root,
            specs,
        )
        lo, hi = "2024-01-10 00:00:00", "2024-01-12 23:59:59.999999"
        src_pred = (
            F.col("ts") >= F.lit(lo).cast("timestamp")
        ) & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp"))
        part_preds = hidden_partition_predicates(specs, {"ts": (lo, hi)})
        df = spark.read.parquet(root).filter(src_pred)
        for p in part_preds:
            df = df.filter(p)
        rows = (
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                money_sum(F.col("value")).alias("total"),
            )
            .orderBy("event_type")
            .collect()
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return local_rows(spark,
        rows, "event_type STRING, n BIGINT, total DOUBLE"
    ).orderBy("event_type")


@query(
    "q243_exponential_smoothing",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    seq AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) - 1
               AS t
      FROM daily
    ),
    acc AS (
      SELECT event_type, d, x, t,
             sum(x * pow(0.7, -t)) OVER (
               PARTITION BY event_type ORDER BY t
               ROWS UNBOUNDED PRECEDING
             ) AS s_run,
             first_value(x) OVER (
               PARTITION BY event_type ORDER BY t
             ) AS x0
      FROM seq
    )
    SELECT event_type, d,
           CAST(round(pow(0.7, t) * (0.3 * s_run + 0.7 * x0), 6)
                AS DOUBLE) AS ewma
    FROM acc
    ORDER BY event_type, d
    """,
)
def q243_exponential_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of daily event counts (alpha=0.3, the
    monitoring/forecast primitive) — the sequential recurrence
    s_t = 0.7*s_{t-1} + 0.3*x_t solved in CLOSED FORM as one
    partitioned window: a running sum of x_i*(1-a)^{-i} rescaled by
    (1-a)^t, plus the first-value seed term. No iteration, no UDF —
    linear recurrences with constant coefficients are window
    algebra, and the window partitions by event_type, so at 100 TB
    the smoothing parallelizes across series. Power weights span
    0.7^{-29}~4e4 over the fixture's 30 days — well inside double
    range (document horizon limits when a series is years long:
    chunk the closed form per month and carry the seed)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("double").alias("x"))
    w_ord = W.partitionBy("event_type").orderBy("d")
    seq = daily.withColumn(
        "t", F.row_number().over(w_ord) - 1
    )
    w_run = (
        W.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    acc = seq.withColumn(
        "s_run", F.sum(F.col("x") * F.pow(F.lit(0.7), -F.col("t"))).over(w_run)
    ).withColumn("x0", F.first("x").over(w_ord))
    return acc.select(
        "event_type",
        "d",
        F.round(
            F.pow(F.lit(0.7), F.col("t"))
            * (0.3 * F.col("s_run") + 0.7 * F.col("x0")),
            6,
        ).alias("ewma"),
    ).orderBy("event_type", "d")


@query(
    "q244_merkle_antientropy_diff",
    oracle="""
    WITH o AS (SELECT c_custkey AS k, c_acctbal, c_mktsegment
               FROM customer),
    n AS (SELECT c_custkey AS k,
                 CASE WHEN c_custkey % 211 = 0 THEN c_acctbal + 5
                      ELSE c_acctbal END AS c_acctbal,
                 c_mktsegment
          FROM customer WHERE c_custkey % 97 != 0),
    j AS (SELECT coalesce(o.k, n.k) AS k,
                 o.k IS NOT NULL AS in_old,
                 n.k IS NOT NULL AS in_new,
                 list_filter([
                   CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                        THEN 'c_acctbal' END,
                   CASE WHEN o.c_mktsegment IS DISTINCT FROM
                             n.c_mktsegment THEN 'c_mktsegment' END
                 ], x -> x IS NOT NULL) AS changed
          FROM o FULL OUTER JOIN n ON o.k = n.k)
    SELECT k,
           CASE WHEN NOT in_old THEN 'insert'
                WHEN NOT in_new THEN 'delete'
                ELSE 'update' END AS change_type,
           changed AS changed_columns
    FROM j
    WHERE NOT in_old OR NOT in_new OR len(changed) > 0
    ORDER BY k
    """,
)
def q244_merkle_antientropy_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anti-entropy mirror reconciliation under the driver's hash
    gate (operators/upsert.py::merkle_diff): two versions of the
    customer table — sparse balance bumps plus sparse deletes —
    are compared by exchanging 1024 XOR-folded bucket summaries and
    row-diffing ONLY the disagreeing buckets, the Merkle-tree trick
    replicated stores use so two 100 TB mirrors reconcile with
    KB-scale traffic and touched-bucket-only rescans. The result
    must equal the straight full-table diff the oracle computes —
    pruning may never lose a changed key."""
    from distcpplus_spark.operators.upsert import merkle_diff

    cust = load_table(spark, sf_dir, "customer")
    old = cust.select(
        F.col("c_custkey").alias("k"), "c_acctbal", "c_mktsegment"
    )
    new = (
        cust.filter(F.col("c_custkey") % 97 != 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(
                F.col("c_custkey") % 211 == 0, F.col("c_acctbal") + 5
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            "c_mktsegment",
        )
    )
    diff, _total, _bad = merkle_diff(
        old, new, "k", ["c_acctbal", "c_mktsegment"], buckets=1024
    )
    return diff.orderBy("k")


@query(
    "q248_zonemap_file_skipping",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey <= (SELECT CAST(floor(max(l_orderkey) / 10.0)
                                     AS BIGINT)
                         FROM lineitem)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q248_zonemap_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (operators/layout.py): lineitem is
    rewritten range-clustered on l_orderkey (16 disjoint-range
    files), a per-file min/max manifest is built from parquet
    FOOTERS only (distributed pyarrow metadata scan — never a data
    read), and a range predicate covering the bottom decile of keys
    prunes the file list driver-side before the scan. With disjoint
    ranges the predicate touches ~2 of 16 files; the residual filter
    keeps correctness independent of pruning, which the oracle
    (raw-table filter) proves. tests/test_layout.py asserts the
    pruning itself (files_kept < files_total) and full-scan
    equality. At 100 TB this is the planner's manifest-prune step:
    footer stats are metadata-scale, the pruned read skips entire
    files, and nothing here collects data rows."""
    import shutil as _sh
    import tempfile as _tf

    from distcpplus_spark.operators.layout import (
        read_with_zonemap,
        write_zonemapped,
        zonemap_manifest,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    hi = li.agg(
        F.floor(F.max("l_orderkey") / F.lit(10.0)).cast("bigint")
    ).collect()[0][0]
    root = _tf.mkdtemp(prefix="q248_zm_")
    try:
        write_zonemapped(li, root, "l_orderkey", 16)
        manifest = zonemap_manifest(spark, root, ["l_orderkey"]).collect()
        df, _kept, _total = read_with_zonemap(
            spark, root, manifest, "l_orderkey", None, float(hi)
        )
        rows = (
            df.groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("l_quantity")).cast("long"))
                .cast("double").alias("sum_qty"),
            )
            .orderBy("l_returnflag")
            .collect()
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return local_rows(spark,
        rows, "l_returnflag STRING, n BIGINT, sum_qty DOUBLE"
    ).orderBy("l_returnflag")


@query(
    "q249_deletion_neighborhood_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_nationkey = 3
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
)
def q249_deletion_neighborhood_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribute-free edit-distance-1 join via FastSS deletion
    neighborhoods (operators/dedup.py::deletion_neighborhood_join):
    unlike q77 (which blocks on p_brand), this finds near-identical
    strings with NO shared key — the record-linkage case where the
    only signal is the string itself. The oracle brute-forces the
    quadratic levenshtein over one nation's customers; the engine
    side never forms that product: it explodes len+1 deletion
    variants per name and equi-joins on the variant, so at 100 TB
    the cost is one shuffle of O(rows·len) short keys with
    per-bucket candidate verification — the published FastSS bound,
    not n²."""
    from distcpplus_spark.operators.dedup import deletion_neighborhood_join

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 3)
        .select("c_custkey", "c_name")
    )
    out = deletion_neighborhood_join(cust, "c_custkey", "c_name")
    return out.orderBy("id_a", "id_b")
