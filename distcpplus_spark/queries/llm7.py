"""Round-8 queries: verification-surface closures (hash-gated twins
of the last impl-defined x-queries) and new operator tiers.

Reference parity notes cite turn/DistCPPlus files as provenance
(what to compute), never as implementation source — the execution
design here is Spark-first (see SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distcpplus_spark.catalog import load_table
from distcpplus_spark.queries import local_rows, query


@query(
    "q295_image_pattern_features",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CASE WHEN doc_id < 56 THEN 16 END AS width,
           CASE WHEN doc_id < 56 THEN 16 END AS height,
           CASE WHEN doc_id < 56 THEN 3 END AS channels,
           CASE WHEN doc_id < 56
                THEN CAST(round((1 + doc_id % 7) / 8.0, 6) AS DOUBLE)
           END AS mean_luma,
           CASE WHEN doc_id < 56
                THEN (CAST(1 AS BIGINT)
                      << CAST(8 * (1 + doc_id % 7) AS INTEGER)) - 1
           END AS phash
    FROM documents WHERE doc_id < 76
    ORDER BY media_id
    """,
)
def q295_image_pattern_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x05's hash-gated twin: REAL image decode + average-hash over
    NON-uniform synthetic images, plus the decode-error path, both
    under the driver's value gate.

    Per document < 56 the executors assemble a 16x16 24-bit BMP whose
    BOTTOM k cell-rows are white (k = 1 + doc_id % 7 of the 8 ahash
    grid rows; BMP rows are stored bottom-up, so the white rows are
    simply the FIRST stored rows). Closed forms, provable exact:
    mean_luma = k/8 (exact binary fraction; BT.601 weights sum to 1
    within 1e-16, far inside the round-6 gate) and the average hash
    sets exactly the LAST 8k bits — no cell ties are possible because
    white cells (luma 255) sit strictly above the global cell mean
    255*k/8 for k < 8 and black cells (0) strictly below it for
    k > 0 (the q257/q122 tie-avoidance discipline). Documents
    56-75 carry NULL content and must surface as all-null feature
    rows — the decode-error contract of the Arrow-batched
    mapInPandas pipeline (operators/multimodal.py), previously only
    rows-only-checked via x05."""
    from distcpplus_spark.operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 76)

    import pandas as pd
    from pyspark.sql import types as T

    def synth(batches):
        import struct

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did >= 56:
                    rows.append((did, None))
                    continue
                w = h = 16
                k = 1 + did % 7          # white ahash cell-rows
                t = 2 * k                # white pixel rows (cell = 2x2)
                white = b"\xff" * (w * 3)
                black = b"\x00" * (w * 3)
                # bottom-up storage: first stored rows are the bottom
                body = white * t + black * (h - t)
                hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
                dib = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                    2835, 2835, 0, 0,
                )
                rows.append((did, hdr + dib + body))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    media = docs.select("doc_id").mapInPandas(synth, media_schema)
    return extract_image_features(media).orderBy("media_id")


@query(
    "q296_vacuum_plan_paths",
    oracle="""
    SELECT * FROM (VALUES
        ('_tmp_v9', true),
        ('stray.txt', false),
        ('v=1', true),
        ('v=2', true)
    ) AS t(relative_dst, is_dir)
    ORDER BY relative_dst
    """,
)
def q296_vacuum_plan_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x15's hash-gated twin: the vacuum PLAN's doomed-path set is
    deterministic (version dirs are named v=<N> in publish order;
    ancestor suppression collapses each doomed version to its
    top-level dir), so the kept/deleted split gates exactly.

    Publishes three versions, plants _tmp_v9 crash debris (with a
    child file, proving ancestor suppression) and a stray file, then
    plans vacuum keep_last=1: doomed must be exactly
    {v=1, v=2, _tmp_v9, stray.txt} — v=3 and the _CURRENT pointer
    kept, no doomed dir's children re-listed. Mirrors the reference's
    plan/execute split (O19) applied to table upkeep."""
    import os
    import tempfile

    from distcpplus_spark.operators.maintenance import (
        plan_vacuum,
        publish_dataset,
    )

    root = tempfile.mkdtemp(prefix="vacuum_gate_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    for take in (10, 20, 30):
        publish_dataset(docs.limit(take), root)
    os.makedirs(os.path.join(root, "_tmp_v9"), exist_ok=True)
    with open(os.path.join(root, "_tmp_v9", "part-000.parquet"), "wb") as f:
        f.write(b"debris")
    with open(os.path.join(root, "stray.txt"), "w") as f:
        f.write("not part of any version")
    return (
        plan_vacuum(spark, root, keep_last=1)
        .select("relative_dst", "is_dir")
        .orderBy("relative_dst")
    )


@query(
    "q297_gz_reshard_splittable",
    oracle="""
    WITH lines AS (
      SELECT doc_id,
             doc_id || CHR(9) ||
             replace(replace(text, CHR(13), ' '), CHR(10), ' ') AS line
      FROM documents WHERE doc_id < 300
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_distinct_line_idx,
           CAST(count(*) - 1 AS BIGINT) AS max_line_idx,
           CAST(bit_xor(CAST('0x' || substr(md5(line), 1, 15) AS BIGINT))
                AS BIGINT) AS lines_fp,
           true AS multi_member
    FROM lines
    """,
)
def q297_gz_reshard_splittable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable gzip (sources/gzsplit.py) under the driver's hash
    gate: a MONOLITHIC single-member .gz (the unsplittable ingestion
    shape) is resharded ONCE into line-aligned concatenated gzip
    members + a byte-offset index (the bgzip/BGZF move — RFC 1952
    multi-member output stays a valid .gz for every other consumer),
    then read back DISTRIBUTED via byte-range member tasks.

    Gate: the reconstructed line set must fingerprint-match the
    source rows (xor of md5-prefix ints — order-insensitive), the
    global line_idx from the index's prefix-summed per-member line
    counts must be dense 0..n-1, and the reshard must actually have
    produced >1 member (multi_member contract; 4 KB span on a
    bounded 300-doc fixture). The fixture build collects 300 rows on
    the driver — bounded fixture construction, not the operator's
    data path; at scale reshard streams executor-side, one task per
    file (gzsplit.reshard_gzip)."""
    import os
    import tempfile

    from distcpplus_spark.sources.gzsplit import (
        read_gz_indexed_lines,
        reshard_gzip,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    root = tempfile.mkdtemp(prefix="gzsplit_")
    src = os.path.join(root, "corpus.gz")
    dst = os.path.join(root, "corpus.sharded.gz")
    import gzip as _gzip

    with _gzip.open(src, "wb") as fh:
        for r in docs.collect():
            clean = r["text"].replace("\r", " ").replace("\n", " ")
            fh.write(f"{r['doc_id']}\t{clean}\n".encode())
    index = reshard_gzip(
        spark, [(src, dst)], span_bytes=4096
    ).localCheckpoint(eager=True)
    n_members = index.count()
    lines = read_gz_indexed_lines(spark, index, split_bytes=8192)
    return lines.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.countDistinct("line_idx").cast("bigint").alias(
            "n_distinct_line_idx"
        ),
        F.max("line_idx").cast("bigint").alias("max_line_idx"),
        F.bit_xor(
            F.conv(F.substring(F.md5("line"), 1, 15), 16, 10).cast("long")
        ).alias("lines_fp"),
        F.lit(n_members > 1).alias("multi_member"),
    )


@query(
    "q298_incremental_relist_diff",
    oracle="""
    SELECT * FROM (VALUES
      ('b.txt',     'modified', CAST(25 AS BIGINT), CAST(20 AS BIGINT), false),
      ('d.txt',     'deleted',  CAST(NULL AS BIGINT), CAST(5 AS BIGINT), false),
      ('e.txt',     'created',  CAST(7 AS BIGINT), CAST(NULL AS BIGINT), false),
      ('sub/c.txt', 'replaced', CAST(0 AS BIGINT), CAST(30 AS BIGINT), true)
    ) t(relative_dst, change_type, length, prev_length, is_dir)
    ORDER BY relative_dst
    """,
)
def q298_incremental_relist_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-listing (sources/lister.py::relist_diff) under
    the driver hash gate: list a deterministic tree, persist the
    manifest, mutate the tree (create / append / delete / file->dir
    type change), re-list and DIFF — the nightly-delta twin of O1
    that plans against changes instead of re-walking the world.
    Every verdict, both lengths, and the dir flag are pinned by a
    VALUES oracle; 'unchanged' rows (a.txt, sub/) are asserted
    absent by the exact row set. The random tmp prefix is stripped
    the q281 way so output is location-independent."""
    import os
    import shutil as _sh
    import tempfile as _tf

    from distcpplus_spark.sources.lister import list_tree, relist_diff

    root = _tf.mkdtemp(prefix="q298_tree_")
    try:
        os.makedirs(f"{root}/sub")
        for rel, size in [
            ("a.txt", 10), ("b.txt", 20), ("sub/c.txt", 30), ("d.txt", 5),
        ]:
            with open(f"{root}/{rel}", "wb") as fh:
                fh.write(b"x" * size)
        prev = list_tree(spark, [root])
        # mutate: create, append, delete, file->dir type change
        with open(f"{root}/e.txt", "wb") as fh:
            fh.write(b"y" * 7)
        with open(f"{root}/b.txt", "ab") as fh:
            fh.write(b"z" * 5)
        os.remove(f"{root}/d.txt")
        os.remove(f"{root}/sub/c.txt")
        os.makedirs(f"{root}/sub/c.txt")
        diff = relist_diff(spark, [root], prev)
        rows = (
            diff.select(
                F.regexp_replace("relative_dst", "^[^/]*/?", "").alias(
                    "relative_dst"
                ),
                "change_type",
                "length",
                "prev_length",
                "is_dir",
            )
            .filter(F.col("relative_dst") != "")
            .orderBy("relative_dst")
            .collect()
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return local_rows(spark,
        rows,
        "relative_dst STRING, change_type STRING, length BIGINT, "
        "prev_length BIGINT, is_dir BOOLEAN",
    ).orderBy("relative_dst")


@query(
    "q299_bz2_splittable_read",
    oracle="""
    WITH lines AS (
      SELECT doc_id || '#' || r.rep || CHR(9) ||
             md5(doc_id || ':' || r.rep || ':' || text) AS line
      FROM documents,
           (SELECT unnest(range(0, 150)) AS rep) r
      WHERE doc_id < 300
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT line) AS BIGINT) AS n_distinct,
           CAST(bit_xor(CAST('0x' || substr(md5(line), 1, 15) AS BIGINT))
                AS BIGINT) AS lines_fp,
           true AS multi_block
    FROM lines
    """,
)
def q299_bz2_splittable_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable bzip2 (sources/bz2split.py) under the driver's hash
    gate: a MONOLITHIC .bz2 — built by stdlib bz2, never touched by
    the engine's writer, so the reader is checked against a foreign
    producer — is block-indexed by the bit-offset magic scan and read
    back DISTRIBUTED (2 blocks per task, forcing the Hadoop
    line-boundary convention across many split seams). Unlike gzip
    (q297's reshard), bzip2 needs NO rewrite pass: blocks are
    independent, so any existing .bz2 splits once indexed.

    Lines are md5-salted (RLE-proof) so compresslevel=1 genuinely
    cuts ~100 KB blocks; 150 reps keep the payload multi-block even
    at sf0.001's small documents table. Gate: exact line-set
    fingerprint vs the relational recomputation, distinctness, and
    the multi_block contract. Driver collects ~300 doc rows to build
    the fixture — bounded fixture construction; at scale indexing
    and reading are executor-side byte-range tasks."""
    import bz2 as _bz2
    import hashlib as _hl
    import os
    import tempfile

    from distcpplus_spark.sources.bz2split import (
        index_bz2_blocks,
        read_bz2_indexed_lines,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    root = tempfile.mkdtemp(prefix="bz2split_")
    path = os.path.join(root, "corpus.bz2")
    with _bz2.open(path, "wb", compresslevel=1) as fh:
        for r in docs.collect():
            did = r["doc_id"]
            for rep in range(150):
                h = _hl.md5(f"{did}:{rep}:{r['text']}".encode()).hexdigest()
                fh.write(f"{did}#{rep}\t{h}\n".encode())
    index = index_bz2_blocks(spark, root).localCheckpoint(eager=True)
    n_blocks = index.count()
    lines = read_bz2_indexed_lines(spark, index, blocks_per_split=2)
    return lines.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.countDistinct("line").cast("bigint").alias("n_distinct"),
        F.bit_xor(
            F.conv(F.substring(F.md5("line"), 1, 15), 16, 10).cast("long")
        ).alias("lines_fp"),
        F.lit(n_blocks > 1).alias("multi_block"),
    )


@query(
    "q300_shuffle_skew_advisor",
    oracle="""
    WITH kc AS (
      SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
    ),
    bc AS (
      SELECT ((k * 2654435761 + 1013904223) % 1000003) % 32 AS b,
             sum(c) AS bc
      FROM kc GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS top_key_rows
      FROM kc
    ),
    top AS (SELECT k AS top_key FROM kc ORDER BY c DESC, k LIMIT 1),
    mb AS (SELECT CAST(max(bc) AS BIGINT) AS max_bucket_rows FROM bc)
    SELECT n_rows, n_keys, max_bucket_rows,
           CAST(round(max_bucket_rows / (n_rows / 32.0), 6) AS DOUBLE)
               AS skew_ratio6,
           CAST(top_key AS BIGINT) AS top_key,
           top_key_rows,
           CAST(ceil(top_key_rows * 32.0 / n_rows) AS BIGINT)
               AS recommended_salt
    FROM tot, top, mb
    """,
)
def q300_shuffle_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-skew diagnosis (operators/scale.py::
    skew_report) under the driver hash gate: per-key counts fold into
    per-reducer totals for a hypothetical 32-partition hash shuffle
    of orders on o_custkey; the report pins the skew ratio, the
    heaviest key, and the salt factor salted_join would need. The
    bucket hash is the engine-portable integer mixer, so the DuckDB
    oracle computes IDENTICAL buckets — the diagnosis itself is
    cross-checked, not just restated. Scale: two hash aggregates
    bounded by key cardinality; the operational twin of the q289
    catalog-stats advisor aimed at the shuffle layer."""
    from distcpplus_spark.operators.scale import skew_report

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return skew_report(orders, "o_custkey", n_partitions=32)


@query(
    "q301_join_order_advisor",
    oracle="""
    WITH lf AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 25
    ),
    lo AS (
      SELECT l_orderkey AS k, count(*) AS c FROM lf GROUP BY 1
    ),
    oo AS (
      SELECT o_orderkey AS k, count(*) AS c FROM orders
      WHERE o_orderstatus = 'F' GROUP BY 1
    ),
    lp AS (
      SELECT l_partkey AS k, count(*) AS c FROM lf GROUP BY 1
    ),
    pp AS (
      SELECT p_partkey AS k, count(*) AS c FROM part
      WHERE p_size < 20 GROUP BY 1
    ),
    est AS (
      SELECT
        (SELECT CAST(coalesce(sum(lo.c * oo.c), 0) AS BIGINT)
         FROM lo JOIN oo USING (k)) AS est_orders_first,
        (SELECT CAST(coalesce(sum(lp.c * pp.c), 0) AS BIGINT)
         FROM lp JOIN pp USING (k)) AS est_part_first
    ),
    act AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM lf
         JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F') AS actual_orders_first,
        (SELECT CAST(count(*) AS BIGINT) FROM lf
         JOIN part ON l_partkey = p_partkey
         WHERE p_size < 20) AS actual_part_first
    )
    SELECT est_orders_first, est_part_first,
           CASE WHEN est_orders_first <= est_part_first
                THEN 'orders_first' ELSE 'part_first' END AS chosen,
           actual_orders_first, actual_part_first,
           est_orders_first = actual_orders_first
             AND est_part_first = actual_part_first AS estimates_exact
    FROM est, act
    """,
)
def q301_join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBO-style join ordering (operators/scale.py::
    estimate_equijoin_rows) under the driver hash gate: for the
    filtered three-table join lineitem x orders x part, compute the
    EXACT cardinality of both first-join choices from per-key count
    histograms alone (|A join B| = sum over shared keys of c_a*c_b —
    exact, not an estimate, with the full histogram), pick the
    smaller intermediate, and PROVE the prediction by materializing
    both joins. Scale: each estimate costs two key-count aggregates
    + a distinct-key join — dimension-cardinality work predicting
    fact-cardinality output; the actual joins here are the gate's
    ground truth, not part of the advisor's cost."""
    from distcpplus_spark.operators.scale import estimate_equijoin_rows

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_partkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") < 20)
        .select("p_partkey")
    )
    est_o = estimate_equijoin_rows(
        li.withColumnRenamed("l_orderkey", "k"),
        orders.withColumnRenamed("o_orderkey", "k"),
        "k",
    )
    est_p = estimate_equijoin_rows(
        li.withColumnRenamed("l_partkey", "k"),
        part.withColumnRenamed("p_partkey", "k"),
        "k",
    )
    actual_o = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).count()
    actual_p = li.join(part, li["l_partkey"] == part["p_partkey"]).count()
    chosen = "orders_first" if est_o <= est_p else "part_first"
    return spark.createDataFrame(
        [
            (
                est_o, est_p, chosen, actual_o, actual_p,
                est_o == actual_o and est_p == actual_p,
            )
        ],
        "est_orders_first BIGINT, est_part_first BIGINT, chosen STRING, "
        "actual_orders_first BIGINT, actual_part_first BIGINT, "
        "estimates_exact BOOLEAN",
    )


@query(
    "q302_prefix_filter_jaccard_join",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(
               list_filter(string_split(text, ' '), x -> x != '')
             ) AS t
      FROM documents WHERE doc_id < 150
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.t, b.t)) AS i,
             len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS u
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      WHERE len(a.t) > 0 AND len(b.t) > 0
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(round(i / CAST(u AS DOUBLE), 6) AS DOUBLE) AS jac6
    FROM pairs
    WHERE i / CAST(u AS DOUBLE) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def q302_prefix_filter_jaccard_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT similarity join via prefix filtering (operators/dedup.py
    ::prefix_filter_jaccard_join) vs a brute-force quadratic oracle —
    the cross-check is the COMPLETENESS THEOREM itself: the engine
    only scores pairs sharing a rarest-first prefix token, the oracle
    scores every pair, and the hash gate fails if prefix filtering
    drops (or invents) a single qualifying pair. This is the exact
    counterpart of MinHash-LSH (q59/q103): no recall contract needed
    because recall is provably 1.0. Scale: candidate fan-out rides on
    LOW-frequency tokens by construction (prefixes exclude exactly
    the hot stopword keys that make naive token joins skew); the
    per-doc rank window partitions by doc_id."""
    from distcpplus_spark.operators.dedup import prefix_filter_jaccard_join

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    )
    out = prefix_filter_jaccard_join(docs, "text", "doc_id", threshold=0.5)
    return (
        out.select(
            "id_a", "id_b", F.round("jac", 6).alias("jac6")
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "q303_space_saving_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT g.tok FROM documents d,
             unnest(string_split(d.text, ' ')) AS g(tok)
      WHERE g.tok != ''
    ),
    truth AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM truth)
    SELECT n,
           CAST(64 AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM truth, tot
            WHERE c * 64 > 2 * n) AS n_guaranteed,
           true AS all_guaranteed_found,
           true AS errors_within_bound
    FROM tot
    """,
)
def q303_space_saving_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SpaceSaving heavy hitters (functions/sketch_tools.py::
    space_saving_topk) under its PROVABLE contract: the summary's
    exact membership/estimates depend on partition layout (like every
    streaming sketch), so the gate checks the THEOREMS instead —
    (a) every token with true count > 2n/k is in the returned top-k,
    (b) every reported estimate is within n/k of the exact count —
    both guaranteed regardless of partitioning, so the booleans are
    deterministic. n, k, and the guaranteed-heavy count come from
    exact relational recomputation; the driver-side truth collect is
    GATE machinery (vocabulary-sized ground truth for the theorem
    check), not part of the operator, whose own driver state is the
    k-row top-k. The enumeration counterpart of count-min (q130):
    CMS answers point queries, SpaceSaving lists the heavy keys."""
    from distcpplus_spark.functions.sketch_tools import space_saving_topk

    K = 64
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.col("text"), " ", -1), lambda x: x != ""
                )
            ).alias("tok")
        )
    )
    summary = {
        r["key"]: r["est"]
        for r in space_saving_topk(toks, "tok", k=K).collect()
    }
    truth = {
        r["tok"]: r["c"]
        for r in toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .collect()
    }
    n = sum(truth.values())
    bound = n / K
    guaranteed = {t for t, c in truth.items() if c * K > 2 * n}
    all_found = guaranteed <= set(summary)
    errors_ok = all(
        abs(est - truth.get(key, 0)) <= bound
        for key, est in summary.items()
    )
    return spark.createDataFrame(
        [(n, K, len(guaranteed), bool(all_found), bool(errors_ok))],
        "n BIGINT, k BIGINT, n_guaranteed BIGINT, "
        "all_guaranteed_found BOOLEAN, errors_within_bound BOOLEAN",
    )


@query(
    "q304_merge_on_read_deletes",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey < 500
    )
    SELECT o_orderkey,
           o_orderstatus,
           CAST(round(o_totalprice, 2) AS DOUBLE) AS price2,
           CAST(rid AS BIGINT) AS _row_id
    FROM base
    WHERE rid % 7 != 3 AND o_orderstatus != 'P'
    ORDER BY o_orderkey
    """,
)
def q304_merge_on_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes (operators/mor.py) under the driver hash
    gate: base written once with a persisted prefix-sum _row_id, then
    a POSITIONAL delete file (every 7th row id, known to the oracle
    as rid % 7 == 3) and an EQUALITY delete file (o_orderstatus =
    'P') appended WITHOUT touching the base; read_mor resolves both
    as broadcast anti-joins at scan time. The oracle recomputes the
    surviving rows relationally — ids, keys, and values all gated.
    Scale: deletes are metadata-sized appends; the read is one base
    scan + two broadcast anti-joins; compact_mor (pytest) folds them
    back when read amplification grows."""
    import tempfile

    from distcpplus_spark.operators.mor import (
        append_equality_deletes,
        append_positional_deletes,
        read_mor,
        write_mor_base,
    )

    root = tempfile.mkdtemp(prefix="mor_")
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    n = write_mor_base(base, root, "o_orderkey")
    append_positional_deletes(spark, root, list(range(3, n, 7)))
    append_equality_deletes(
        spark,
        root,
        spark.createDataFrame([("P",)], "o_orderstatus STRING"),
    )
    out = read_mor(spark, root)
    return (
        out.select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("price2"),
            "_row_id",
        )
        .orderBy("o_orderkey")
    )


@query(
    "q406_lz4_splittable_read",
    oracle="""
    WITH lines AS (
      SELECT doc_id || CHR(9) ||
             replace(replace(text, CHR(13), ' '), CHR(10), ' ') AS line
      FROM documents WHERE doc_id < 400
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_distinct_line_idx,
           CAST(count(*) - 1 AS BIGINT) AS max_line_idx,
           CAST(bit_xor(CAST('0x' || substr(md5(line), 1, 15) AS BIGINT))
                AS BIGINT) AS lines_fp,
           true AS multi_block
    FROM lines
    """,
)
def q406_lz4_splittable_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable LZ4 frame (sources/lz4frame.py) under the driver's
    hash gate: the corpus is written as ONE independent-block .lz4
    (line-aligned 2 KB blocks — the format's own splittability
    design, no reshard pass needed), then read back DISTRIBUTED as
    small byte-range block groups, forcing the inclusive-end line
    convention across many task seams.

    Gate: exact line-set fingerprint vs the relational recomputation
    (xor of md5-prefix ints — order-insensitive), dense global
    line_idx 0..n-1 from the per-task prefix sum, and the
    multi_block contract. The fixture build collects 400 rows on the
    driver — bounded fixture construction, not the operator's data
    path; at scale writing is write_lz4_shards' executor-side
    mapInArrow and reading is byte-range tasks planned from one
    O(#blocks) header hop."""
    import os
    import tempfile

    from distcpplus_spark.sources.lz4frame import (
        index_blocks,
        read_lz4_lines_spark,
        write_lz4_lines,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    root = tempfile.mkdtemp(prefix="lz4split_")
    path = os.path.join(root, "corpus.lz4")
    write_lz4_lines(
        (
            f"{r['doc_id']}\t"
            + r["text"].replace("\r", " ").replace("\n", " ")
            for r in docs.collect()
        ),
        path,
        block_bytes=2048,
    )
    n_blocks = len(index_blocks(path))
    lines = read_lz4_lines_spark(spark, path, split_bytes=4096)
    return lines.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.countDistinct("line_idx").cast("bigint").alias(
            "n_distinct_line_idx"
        ),
        F.max("line_idx").cast("bigint").alias("max_line_idx"),
        F.bit_xor(
            F.conv(F.substring(F.md5("line"), 1, 15), 16, 10).cast("long")
        ).alias("lines_fp"),
        F.lit(n_blocks > 1).alias("multi_block"),
    )
