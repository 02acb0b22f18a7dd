"""File-ETL plan queries (SURVEY.md §2a O6-O10) in oracle-checkable form.

The reference's copy planner is relational at heart: update = anti-join
with a change predicate (DistCpUtils.java:239-291), duplicate check =
group-by-having (DistCpUtils.java:84-110), limits = prefix-sum cutoffs
(DistCPPlus.java:676-678), split planning = cost bucketing
(CopyInputFormat.java:33-79), mirror delete = sort-merge anti-join
(DistCpUtils.java:136-223).

The driver's DuckDB oracle only has the 10 fixture tables, so these
queries derive a deterministic file-metadata listing from ``documents``
(path/length/mtime columns computed by identical expressions on both
sides) and run the *planning* queries against it. The real filesystem
operators (lister, copier, deleter) live in distcpplus_spark.sources /
.operators and are covered by pytest against temp trees.

Derived listing (identical on both engines):
  src_meta: every doc     → relative_dst = source || '/' || doc_id || '.txt'
                            length = n_chars, mtime_s = 1700000000 + doc_id*60
  dst_meta: doc_id%3 != 0 → same, except length+1 when doc_id%5==0 (changed
                            file) and mtime_s+30 when doc_id%7==0 (touched)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from distcpplus_spark.catalog import load_table
from distcpplus_spark.queries import local_rows, query

_SRC_META_SQL = """
  SELECT source || '/' || doc_id || '.txt' AS relative_dst,
         n_chars AS length,
         CAST(1700000000 + doc_id * 60 AS BIGINT) AS mtime_s
  FROM documents
"""

_DST_META_SQL = """
  SELECT source || '/' || doc_id || '.txt' AS relative_dst,
         n_chars + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS length,
         CAST(1700000000 + doc_id * 60
              + CASE WHEN doc_id % 7 = 0 THEN 30 ELSE 0 END AS BIGINT) AS mtime_s
  FROM documents
  WHERE doc_id % 3 != 0
"""


def _src_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat_ws("/", "source", F.concat(F.col("doc_id").cast("string"), F.lit(".txt"))).alias(
            "relative_dst"
        ),
        F.col("n_chars").alias("length"),
        (F.lit(1700000000) + F.col("doc_id") * 60).cast("bigint").alias("mtime_s"),
    )


def _dst_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 != 0)
    return docs.select(
        F.concat_ws("/", "source", F.concat(F.col("doc_id").cast("string"), F.lit(".txt"))).alias(
            "relative_dst"
        ),
        (
            F.col("n_chars")
            + F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)
        ).alias("length"),
        (
            F.lit(1700000000)
            + F.col("doc_id") * 60
            + F.when(F.col("doc_id") % 7 == 0, 30).otherwise(0)
        )
        .cast("bigint")
        .alias("mtime_s"),
    )


@query(
    "q40_etl_update_plan",
    oracle=f"""
    WITH src_meta AS ({_SRC_META_SQL}), dst_meta AS ({_DST_META_SQL})
    SELECT s.relative_dst, s.length,
           CASE WHEN d.relative_dst IS NULL THEN 'copy_new'
                ELSE 'copy_changed' END AS action
    FROM src_meta s LEFT JOIN dst_meta d ON s.relative_dst = d.relative_dst
    WHERE d.relative_dst IS NULL
       OR s.length != d.length
       OR s.mtime_s != d.mtime_s
    ORDER BY s.relative_dst
    """,
)
def q40_etl_update_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-update incremental-sync plan: left join + change predicate.

    The reference does per-file namenode point-lookups
    (DistCPPlus.java:685-688) — an index nested-loop that melts at
    100 TB. The distributed anti-join replaces N RPCs with one shuffle.
    """
    s = _src_meta(spark, sf_dir).alias("s")
    d = _dst_meta(spark, sf_dir).alias("d")
    return (
        s.join(d, F.col("s.relative_dst") == F.col("d.relative_dst"), "left")
        .filter(
            F.col("d.relative_dst").isNull()
            | (F.col("s.length") != F.col("d.length"))
            | (F.col("s.mtime_s") != F.col("d.mtime_s"))
        )
        .select(
            F.col("s.relative_dst").alias("relative_dst"),
            F.col("s.length").alias("length"),
            F.when(F.col("d.relative_dst").isNull(), "copy_new")
            .otherwise("copy_changed")
            .alias("action"),
        )
        .orderBy("relative_dst")
    )


@query(
    "q41_etl_dup_check",
    oracle="""
    SELECT relative_dst, CAST(count(*) AS BIGINT) AS n_sources
    FROM (
      SELECT source || '/doc_' || (doc_id % 50) || '.txt' AS relative_dst
      FROM documents
    )
    GROUP BY relative_dst
    HAVING count(*) > 1
    ORDER BY relative_dst
    """,
)
def q41_etl_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-destination detection (DistCpUtils.java:84-110): the
    reference external-sorts and scans adjacent pairs; relationally it
    is GROUP BY relative_dst HAVING count(*) > 1. Collisions are forced
    here by bucketing doc_id % 50."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.concat(
                F.col("source"),
                F.lit("/doc_"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".txt"),
            ).alias("relative_dst")
        )
        .groupBy("relative_dst")
        .agg(F.count("*").alias("n_sources"))
        .filter(F.col("n_sources") > 1)
        .orderBy("relative_dst")
    )


@query(
    "q42_etl_limits",
    oracle=f"""
    WITH src_meta AS ({_SRC_META_SQL}),
    numbered AS (
      SELECT relative_dst, length,
             CAST(row_number() OVER (ORDER BY relative_dst) AS BIGINT) AS rn,
             CAST(sum(length) OVER (ORDER BY relative_dst
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bytes
      FROM src_meta
    )
    SELECT relative_dst, length, rn, cum_bytes
    FROM numbered
    WHERE rn <= 300 AND cum_bytes <= 50000
    ORDER BY relative_dst
    """,
)
def q42_etl_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-filelimit / -sizelimit (DistCPPlus.java:676-678): running-total
    prefix-sum cutoff in traversal order.

    Scale: BOTH running totals (row count and byte sum) come from one
    two-phase distributed prefix sum over a range-partitioned listing
    (operators/scale.py::partitioned_running_aggs) — no partition-less
    window; a 100 M-file manifest stays parallel. row_number over a
    unique order key ≡ running sum of 1.
    """
    from distcpplus_spark.operators.scale import partitioned_running_aggs

    n_parts = max(2, spark.sparkContext.defaultParallelism)
    ranged = (
        _src_meta(spark, sf_dir)
        .repartitionByRange(n_parts, "relative_dst")
        .withColumn("_one", F.lit(1).cast("bigint"))
    )
    cum = partitioned_running_aggs(
        ranged,
        ["relative_dst"],
        [("_one", "rn", "sum"), ("length", "cum_bytes", "sum")],
        F.spark_partition_id(),
        deterministic_bucket=False,
    )
    return (
        cum.withColumn("rn", F.col("rn").cast("bigint"))
        .withColumn("cum_bytes", F.col("cum_bytes").cast("bigint"))
        .filter((F.col("rn") <= 300) & (F.col("cum_bytes") <= 50000))
        .select("relative_dst", "length", "rn", "cum_bytes")
        .orderBy("relative_dst")
    )


@query(
    "q43_etl_cost_buckets",
    oracle=f"""
    WITH src_meta AS ({_SRC_META_SQL}),
    cum AS (
      SELECT relative_dst, length,
             CAST(sum(length) OVER (ORDER BY relative_dst
               ROWS UNBOUNDED PRECEDING) - length AS BIGINT) AS cum_before
      FROM src_meta
    )
    SELECT CAST(floor(cum_before / 20000.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(length) AS BIGINT) AS bucket_bytes
    FROM cum
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q43_etl_cost_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced split planning (CopyInputFormat.java:33-79): assign
    files to buckets by cumulative byte cost, not row count —
    row-balanced splits would skew on mixed file sizes. Target 20 KB
    per bucket on the derived listing.

    Scale: the cumulative cost is the two-phase distributed prefix sum
    (range-partition by the traversal key, per-partition window,
    per-partition totals as broadcast carry-ins), no partition-less
    window. The oracle pins global path order; the copy planner
    (assign_cost_buckets) needs none and cuts buckets in partition order."""
    from distcpplus_spark.operators.scale import partitioned_running_agg

    n_parts = max(2, spark.sparkContext.defaultParallelism)
    ranged = _src_meta(spark, sf_dir).repartitionByRange(n_parts, "relative_dst")
    cum = partitioned_running_agg(
        ranged, ["relative_dst"], "length", "_cum", F.spark_partition_id(),
        deterministic_bucket=False,
    )
    return (
        cum.withColumn(
            "cum_before", (F.col("_cum") - F.col("length")).cast("bigint")
        )
        .groupBy(
            F.floor(F.col("cum_before") / 20000.0).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_files"),
            F.sum("length").cast("bigint").alias("bucket_bytes"),
        )
        .orderBy("bucket")
    )


@query(
    "q44_etl_mirror_delete",
    oracle=f"""
    WITH dst_meta AS ({_DST_META_SQL}),
    src_kept AS (
      SELECT source || '/' || doc_id || '.txt' AS relative_dst
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT d.relative_dst
    FROM dst_meta d
    LEFT JOIN src_kept s ON d.relative_dst = s.relative_dst
    WHERE s.relative_dst IS NULL
    ORDER BY d.relative_dst
    """,
)
def q44_etl_mirror_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-delete mirror plan (DistCpUtils.java:136-223): destination
    paths absent from the source → delete list, via left-anti join.
    The reference's streaming sort-merge loop is exactly Catalyst's
    sort-merge anti-join strategy, which spills instead of OOMing."""
    docs = load_table(spark, sf_dir, "documents")
    src_kept = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.concat_ws(
            "/", "source", F.concat(F.col("doc_id").cast("string"), F.lit(".txt"))
        ).alias("relative_dst")
    )
    return (
        _dst_meta(spark, sf_dir)
        .select("relative_dst")
        .join(src_kept, "relative_dst", "left_anti")
        .orderBy("relative_dst")
    )


@query(
    "q104_etl_greedy_sizelimit",
    # candidate set bounded to doc_id < 2000 on BOTH sides: the
    # oracle's running-admission state is a LINEAR recursive CTE (one
    # recursion step per row, each joining `numbered`), i.e. O(n^2)
    # in DuckDB — unbounded it wedged the sf1 sweep at 50k docs. The
    # bound is a no-op at the driver gate (sf0.01 has 500 docs) and
    # preserves the greedy quirk (skip-the-big, admit-later-small)
    # at every SF; the ENGINE side still runs the same single
    # ordered pass it uses unbounded.
    oracle="""
    WITH RECURSIVE src_meta AS (
      SELECT source || '/' || doc_id || '.txt' AS relative_dst,
             n_chars AS length
      FROM documents WHERE doc_id < 2000
    ),
    numbered AS (
      SELECT relative_dst, length,
             row_number() OVER (ORDER BY relative_dst) AS rn
      FROM src_meta
    ),
    g AS (
      SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS acc,
             FALSE AS admitted, CAST(NULL AS VARCHAR) AS relative_dst,
             CAST(NULL AS BIGINT) AS length
      UNION ALL
      SELECT n.rn,
             CASE WHEN g.acc + n.length <= 50000
                  THEN g.acc + n.length ELSE g.acc END,
             g.acc + n.length <= 50000,
             n.relative_dst,
             CAST(n.length AS BIGINT)
      FROM g JOIN numbered n ON n.rn = g.rn + 1
    )
    SELECT relative_dst, length
    FROM g WHERE admitted
    ORDER BY relative_dst
    """,
)
def q104_etl_greedy_sizelimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-sizelimit with the reference's GREEDY semantics
    (DistCPPlus.java:676-678): a file that would overflow the byte
    budget is skipped, but later smaller files that still fit are
    admitted — unlike q42's prefix cutoff. Runs through the planner's
    apply_limits (plans.copy_plan), the same single-ordered-pass code
    the copy engine uses; the oracle expresses the running admission
    state as a linear recursive CTE.
    """
    from distcpplus_spark.plans.copy_plan import apply_limits

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2000  # mirrors the oracle's bound (see above)
    )
    listing = docs.select(
        F.concat_ws(
            "/",
            "source",
            F.concat(F.col("doc_id").cast("string"), F.lit(".txt")),
        ).alias("path"),
        F.concat_ws(
            "/",
            "source",
            F.concat(F.col("doc_id").cast("string"), F.lit(".txt")),
        ).alias("relative_dst"),
        F.col("n_chars").cast("long").alias("length"),
        F.lit(False).alias("is_dir"),
    )
    return (
        apply_limits(listing, None, 50000)
        .select("relative_dst", F.col("length").cast("bigint").alias("length"))
        .orderBy("relative_dst")
    )


@query(
    "q156_avro_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id < 400
    GROUP BY lang
    ORDER BY lang
    """,
)
def q156_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro as a first-class source/sink under the driver's hash gate:
    a documents slice is written to Avro Object Container Files (one
    per partition, deflate codec, pure-Python writer on executors —
    sources/avro_py implements the public Avro spec because neither
    spark-avro nor a Python avro lib ships in this environment), read
    back through the distributed binaryFile+mapInPandas reader, and
    aggregated. The oracle computes the same aggregate straight from
    the parquet table, so any loss or corruption in the Avro round
    trip breaks the hash. Fresh temp dir per invocation keeps the
    driver's stability re-run deterministic.

    Pinned to the pure-Python OCF codec (write_avro_py/read_avro_py)
    rather than the JVM-first read_avro/write_avro wrappers: the
    wrappers pick their path per-environment (spark-avro jar present
    or not), and a correctness-gate query must exercise ONE code path
    everywhere. JVM-vs-python parity is asserted separately in
    tests/test_avro.py when the jar is available."""
    import shutil
    import tempfile

    from distcpplus_spark.sources.avro_py import read_avro_py, write_avro_py

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "lang", "n_chars")
    )
    root = tempfile.mkdtemp(prefix="avro_rt_")
    try:
        write_avro_py(docs.repartition(4), root)
        rows = (
            read_avro_py(spark, root)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
            .orderBy("lang")
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_rows(spark,
        rows, "lang STRING, n_docs BIGINT, total_chars BIGINT"
    ).orderBy("lang")


@query(
    "q241_composite_crc_verify",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(1 AS BOOLEAN) AS all_crc_match
    FROM (SELECT DISTINCT source FROM documents)
    """,
)
def q241_composite_crc_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed whole-file CRC-32 under the verification CONTRACT
    (operators/checksum.py): one file per documents source is
    assembled deterministically, checksummed by parallel byte-range
    tasks, and the chunk CRCs fold through the GF(2) combine — the
    result must be bit-identical to a sequential zlib.crc32 of each
    file (the contract boolean the oracle asserts; n_files pins
    coverage). This is the chunked copy executor's verify story:
    HDFS COMPOSITE_CRC-style checksums mean a 100 TB file's
    integrity check parallelizes exactly like its copy did."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf
    import zlib as _zlib

    from distcpplus_spark.operators.checksum import distributed_file_crc

    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.groupBy("source")
        .agg(
            F.concat_ws(
                "\n", F.array_sort(F.collect_list("text"))
            ).alias("blob")
        )
        .collect()
    )
    root = _tf.mkdtemp(prefix="q241_crc_")
    try:
        # Round-14 (guide §2.6 — overlap independent jobs): each
        # file's chunk-CRC pass is an independent Spark job dominated
        # by fixed job overhead at fixture sizes; running them from a
        # small driver thread pool back-fills the tail instead of
        # serializing ~1.4 s jobs (14.8 → ~4 s at sf0.1). Result is
        # an AND over per-file booleans — order-free.
        from concurrent.futures import ThreadPoolExecutor

        def one_file(r) -> bool:
            p = _os.path.join(root, f"{r['source']}.txt")
            data = r["blob"].encode()
            with open(p, "wb") as fh:
                fh.write(data)
            return distributed_file_crc(
                spark, p, chunk_bytes=4096
            ) == _zlib.crc32(data)

        with ThreadPoolExecutor(max_workers=8) as pool:
            ok = all(list(pool.map(one_file, per_src)))
        n = len(per_src)
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(n, ok)], "n_files BIGINT, all_crc_match BOOLEAN"
    )
