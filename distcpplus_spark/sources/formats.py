"""Source/sink formats beyond parquet: CSV, JSON(L), ORC, text,
binaryFile — thin, opinionated wrappers over the Spark readers with
the options that matter at scale set correctly.

Scale defaults:
- CSV/JSON readers take an explicit schema — schema inference reads
  the data twice and samples nondeterministically; never infer at
  100 TB.
- Writers default to snappy parquet with optional partitionBy and a
  target file size via repartition-by-cost (reuse of the copy
  planner's bucketing idea for output sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """``mode`` is the malformed-row policy — PERMISSIVE (null-fill,
    optionally capturing the raw line in ``corrupt_col``),
    DROPMALFORMED (silently skip), FAILFAST (abort the job). At 100 TB
    some rows ARE bad; the quarantine pattern is PERMISSIVE +
    corrupt_col + ``quarantine_corrupt`` so bad lines land in a
    reviewable sink instead of killing the job or vanishing."""
    reader = (
        spark.read.schema(
            schema if corrupt_col is None else f"{schema}, {corrupt_col} STRING"
        )
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", mode)
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON-lines reader with the same malformed-row policy knob as
    ``read_csv`` (see there for the quarantine pattern)."""
    reader = spark.read.schema(
        schema if corrupt_col is None else f"{schema}, {corrupt_col} STRING"
    ).option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.json(path)


def quarantine_corrupt(
    df: DataFrame, corrupt_col: str
) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean, quarantined): rows whose
    raw text landed in ``corrupt_col`` go to the quarantine side with
    only that column, clean rows lose it.

    The input is cached here — Spark REQUIRES it: a plan referencing
    only the internal corrupt-record column of a raw CSV/JSON source
    raises UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN, and
    caching is the documented workaround (it also keeps the two sides
    from re-parsing the files twice).

    Long-lived sessions (streaming micro-batches, services) must
    release the cached blocks once both sides are consumed — call
    ``release_quarantine(good)`` (or ``bad``) after the batch's
    actions, or the executor storage fills with one cached scan per
    batch."""
    cached = df.cache()
    bad = cached.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    good = cached.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    # keep a handle so release_quarantine can unpersist the shared scan
    good._quarantine_source = cached  # type: ignore[attr-defined]
    bad._quarantine_source = cached  # type: ignore[attr-defined]
    return good, bad


def release_quarantine(side: DataFrame) -> None:
    """Unpersist the cached source behind a ``quarantine_corrupt``
    result (either side). Safe to call more than once; no-op for
    DataFrames that didn't come from quarantine_corrupt."""
    cached = getattr(side, "_quarantine_source", None)
    if cached is not None:
        cached.unpersist()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_file_mb: int | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """Parquet sink. target_file_mb coalesces output to ~N MB files —
    small-file storms kill downstream listing/scan performance; at
    scale always size output files (128-512 MB sweet spot).

    sort_by clusters rows within each output file: row-group min/max
    statistics become selective, so later filtered scans skip whole
    row groups (zone-map pruning), and run-length/dictionary encoding
    compresses better. Sort by your dominant filter column."""
    if target_file_mb:
        # estimate bytes from the plan's stats when available; fall
        # back to row-count heuristic (~100 bytes/row compressed)
        n_rows = df.count()
        est_mb = max(1, (n_rows * 100) >> 20)
        df = df.repartition(max(1, est_mb // target_file_mb))
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    w = df.write.mode(mode).option("compression", "snappy")
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def roundtrip_schema(df: DataFrame) -> str:
    """DDL schema string for re-reading what we wrote."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source. Prefers the JVM spark-avro datasource (vectorized,
    block-splittable) when the package is on the classpath; falls back
    to the pure-Python Object Container File reader (sources/avro_py)
    when it isn't — same rows, same schema mapping, per-file
    parallelism. The fallback keeps Avro a first-class format in
    jar-less environments instead of an ImportError."""
    try:
        return spark.read.format("avro").load(path)
    except Exception:  # AnalysisException: failed to find data source
        from distcpplus_spark.sources.avro_py import read_avro_py

        return read_avro_py(spark, path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink (same JVM-first / pure-Python-fallback policy as
    read_avro). The fallback writes one container file per partition
    from the executors (deflate codec)."""
    try:
        df.write.mode(mode).format("avro").save(path)
    except Exception:
        import shutil

        from distcpplus_spark.sources.avro_py import write_avro_py

        if mode == "overwrite":
            shutil.rmtree(path, ignore_errors=True)
        elif mode == "error" and os.path.exists(path):
            raise FileExistsError(path)
        write_avro_py(df, path)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (Z-order) interleave of ``cols`` quantized to ``bits``
    levels each — returns (df_with_key, key_column_name).

    Sorting by one column clusters its row-group stats but leaves every
    other filter column spanning the full range; interleaving bits
    gives EVERY participating column locality, so a scan filtered on
    any of them skips row groups. The key is built from pure column
    expressions (shift/or/and) — whole-stage codegen, no UDF.
    """
    from pyspark.sql import functions as FN

    stats = df.agg(
        *[FN.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[FN.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    quant = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        span = (mx - mn) or 1.0
        quant.append(
            FN.least(
                FN.lit(top),
                ((FN.col(c).cast("double") - FN.lit(mn)) / FN.lit(span)
                 * FN.lit(top)).cast("long"),
            )
        )
    z = FN.lit(0).cast("long")
    k = len(cols)
    for bit in range(bits):
        for ci, q in enumerate(quant):
            z = z.bitwiseOR(
                FN.shiftleft(
                    FN.shiftright(q, bit).bitwiseAND(FN.lit(1)),
                    bit * k + ci,
                )
            )
    return df.withColumn("_zorder", z), "_zorder"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """Parquet sink clustered by Z-order over ``cols`` (the key column
    is dropped from the files). See zorder_key for why."""
    keyed, key = zorder_key(df, cols)
    out = keyed.sortWithinPartitions(key).drop(key)
    w = out.write.mode(mode).option("compression", "snappy")
    for k_, v in (options or {}).items():
        w = w.option(k_, v)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ~target_file_mb files (optionally re-sorted for zone maps).
    Returns (files_before, files_after).

    Small-file storms are the classic lake pathology — a streaming
    sink writing one file per micro-batch per partition turns scans
    into open()-bound listings. Compaction is just read→size→rewrite;
    actual bytes measured from disk, not estimated. Uses a temp dir +
    atomic-ish swap so readers never see a half-written table.
    """
    import glob as _glob
    import shutil as _shutil

    files_before = len(_glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))
    total_bytes = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True)
    )
    n_files = max(1, total_bytes // (target_file_mb << 20))
    df = spark.read.parquet(path).repartition(int(n_files))
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    tmp = path.rstrip("/") + "._compact_tmp"
    df.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    _shutil.rmtree(old, ignore_errors=True)
    files_after = len(_glob.glob(os.path.join(path, "**", "*.parquet"),
                                 recursive=True))
    return files_before, files_after


def _jsonl_export_ranks(df, order_col: str, rows_per_shard: int):
    """0-based global rank over ``order_col`` plus shard id, computed
    scale-safely: range-repartition on the order column (so Spark's
    range partitioner gives monotone partition ids), then the repo's
    two-phase distributed prefix sum of 1s within/across those
    buckets. ``deterministic_bucket=False`` because range boundaries
    come from re-drawn reservoir samples — partitioned_running_agg
    materializes the bucket-stamped frame once so the carry-in job
    and the final job agree (the cross-job bucket-drift fix)."""
    from pyspark.sql import functions as F

    from distcpplus_spark.operators.scale import partitioned_running_agg

    base = df.repartitionByRange(F.col(order_col)).withColumn(
        "_one", F.lit(1)
    )
    return (
        partitioned_running_agg(
            base,
            [order_col],
            "_one",
            "_rk1",
            F.spark_partition_id(),
            deterministic_bucket=False,
        )
        .withColumn("_rk", (F.col("_rk1") - 1).cast("long"))
        .withColumn(
            "_shard", (F.col("_rk") / rows_per_shard).cast("int")
        )
        .drop("_one", "_rk1")
    )


def write_jsonl_shards(
    df, out_dir: str, rows_per_shard: int, order_col: str
) -> "DataFrame":
    """Export a dataset as deterministic JSONL shards + manifest —
    the interchange layout training jobs consume (one
    ``shard-NNNNN.jsonl`` per fixed row count, plus a manifest row
    per shard with count and content digest).

    Determinism contract: rows are assigned to shards by rank over
    ``order_col`` (dense, gap-free; pass a UNIQUE column — ties make
    shard membership run-dependent), each shard is written sorted,
    so the same input always produces byte-identical shards — which
    is what makes manifests diffable across pipeline runs.

    Scale shape: the rank is a range exchange on ``order_col``
    followed by the two-phase distributed prefix sum
    (operators/scale.partitioned_running_agg) — a per-range-bucket
    window plus a broadcast of per-bucket carry-ins — NOT a global
    partition-less row_number window, which would funnel every row
    through a single task. Shard assembly is applyInPandas per shard
    id (one task per shard, bounded by rows_per_shard), and the
    manifest is the aggregation of per-shard digests — the driver
    never sees row data. Returns the manifest DataFrame."""
    import hashlib
    import json
    import os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns
    ranked = _jsonl_export_ranks(df, order_col, rows_per_shard)

    man_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("sha256", T.StringType(), False),
        ]
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values("_rk")
        lines = []
        for _, row in pdf.iterrows():
            obj = {c: row[c] for c in cols}
            lines.append(
                json.dumps(obj, separators=(",", ":"), sort_keys=True,
                           default=str)
            )
        blob = ("\n".join(lines) + "\n").encode()
        path = os.path.join(out_dir, f"shard-{sid:05d}.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame(
            {
                "shard": [sid],
                "n_rows": [len(lines)],
                "sha256": [hashlib.sha256(blob).hexdigest()],
            }
        )

    manifest = (
        ranked.groupBy("_shard").applyInPandas(write_shard, man_schema)
    )
    # materialize so the files exist before the caller reads them
    rows = manifest.collect()
    spark = df.sparkSession
    with open(os.path.join(out_dir, "_MANIFEST.json"), "w") as f:
        for r in sorted(rows, key=lambda r: r["shard"]):
            f.write(
                json.dumps(
                    {"shard": r["shard"], "n_rows": r["n_rows"],
                     "sha256": r["sha256"]},
                    sort_keys=True,
                )
                + "\n"
            )
    return spark.createDataFrame(rows, man_schema).orderBy("shard")


def write_arrow_ipc(df, out_dir: str) -> int:
    """Arrow IPC (Feather v2) sink: one ``part-NNNNN.arrow`` file
    per Spark partition, written by the executors via mapInArrow —
    the Arrow RecordBatches Spark already materializes stream
    straight into pyarrow's file writer with zero row-wise
    conversion. Returns the number of files written.

    Arrow IPC is the zero-parse interchange format for feature
    stores and Python/Rust/Julia consumers; unlike parquet there is
    no decode step on read — batches map directly."""
    import os

    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches):
        import uuid

        writer = None
        path = None
        tmp = None
        n = 0
        for batch in batches:
            if writer is None:
                name = f"part-{uuid.uuid4().hex}.arrow"
                path = os.path.join(out_dir, name)
                tmp = path + ".tmp"
                writer = pa.ipc.new_file(tmp, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            os.replace(tmp, path)
        yield pa.RecordBatch.from_pydict({"rows_written": [n]})

    # the write is an action on the executors; the tiny
    # rows-written frame is the materialization trigger
    df.mapInArrow(write_part, "rows_written long").agg(
        {"rows_written": "sum"}
    ).collect()
    return len([f for f in os.listdir(out_dir) if f.endswith(".arrow")])


def read_arrow_ipc(spark, path: str):
    """Arrow IPC source: binaryFile scan (one file per task) →
    mapInArrow re-emission of the embedded RecordBatches. The only
    per-row cost is Arrow's own zero-copy buffer mapping."""
    import glob as _glob
    import os

    import pyarrow as pa

    # schema from the first file's footer (driver reads ~KBs, like
    # spark-avro's header sniff)
    files = sorted(_glob.glob(os.path.join(path, "*.arrow")))
    if not files:
        raise FileNotFoundError(f"no .arrow files under {path}")
    with pa.memory_map(files[0]) as mm:
        schema = pa.ipc.open_file(mm).schema
    from pyspark.sql.pandas.types import from_arrow_schema

    spark_schema = from_arrow_schema(schema)

    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.arrow")
        .load(path)
    )

    def explode(batches):
        import io

        for batch in batches:
            col = batch.column(batch.schema.get_field_index("content"))
            for blob in col.to_pylist():
                reader = pa.ipc.open_file(io.BytesIO(blob))
                for i in range(reader.num_record_batches):
                    yield reader.get_batch(i)

    return bin_df.select("content").mapInArrow(
        explode, spark_schema
    )


PARTITION_TRANSFORMS = ("identity", "days", "months", "bucket", "truncate")


def hidden_partition_write(df, path: str, specs: list[tuple]) -> list[str]:
    """Iceberg-style HIDDEN PARTITIONING on stock parquet: derive
    partition columns from data columns via the standard transform
    vocabulary — ``(out_name, 'days'|'months', src)`` date
    truncations, ``(out_name, 'bucket', src, n)`` hash buckets,
    ``(out_name, 'truncate', src, width)`` prefix/step truncation,
    ``(out_name, 'identity', src)`` — and hive-partition the write
    by them. Queries keep filtering on the SOURCE column; because
    each transform is monotone-or-exact in its source, a filter on
    the source translates to partition pruning on the derived dir
    (see prune tests): the lakehouse layout trick without a table
    format. Returns the derived column names (partition order)."""
    from pyspark.sql import functions as F

    names = []
    for spec in specs:
        name, kind, src = spec[0], spec[1], spec[2]
        if kind == "identity":
            col = F.col(src)
        elif kind == "days":
            col = F.to_date(src).cast("string")
        elif kind == "months":
            col = F.date_format(src, "yyyy-MM")
        elif kind == "bucket":
            n = spec[3]
            col = F.pmod(F.hash(src), F.lit(n))
        elif kind == "truncate":
            w = spec[3]
            col = (F.floor(F.col(src) / w) * w).cast("long")
        else:
            raise ValueError(f"unknown transform {kind!r}")
        names.append(name)
        df = df.withColumn(name, col)
    # Cluster by the derived partition columns before the write
    # (Iceberg write.distribution-mode=hash; guide §6): without it
    # every input task opens a file in every partition directory it
    # sees — tasks × dirs tiny files (32 × 240 = ~7.7k here, measured
    # ~9 s at sf0.1), strangling both the write and every later
    # listing. One shuffle of the rows yields one file per directory
    # per owning task (8.8 → ~3 s at sf0.1).
    df.repartition(*[F.col(n) for n in names]).write.mode(
        "overwrite"
    ).partitionBy(*names).parquet(path)
    return names


def hidden_partition_predicates(
    specs: list[tuple], filters: dict
) -> list:
    """Translate SOURCE-column predicates into partition-column
    predicates for a ``hidden_partition_write`` layout — the rewrite
    a table format does invisibly. ``filters`` maps a source column
    to either an exact value or an inclusive ``(lo, hi)`` range.
    Sound because every transform is monotone in its source (days,
    months, truncate, identity: a source range maps to a derived
    range) or exact on equality (bucket: equal sources hash to the
    same bucket — ranges are NOT translatable and yield nothing).
    Conjoin the returned predicates with the original filter; rows
    are never lost, whole partition directories are skipped."""
    from pyspark.sql import functions as F

    preds = []
    for spec in specs:
        name, kind, src = spec[0], spec[1], spec[2]
        if src not in filters:
            continue
        v = filters[src]
        if isinstance(v, tuple):
            lo, hi = v
            if kind == "days":
                preds.append(
                    F.col(name).between(
                        F.to_date(F.lit(lo)), F.to_date(F.lit(hi))
                    )
                )
            elif kind == "months":
                preds.append(
                    F.col(name).between(
                        F.date_format(F.lit(lo), "yyyy-MM"),
                        F.date_format(F.lit(hi), "yyyy-MM"),
                    )
                )
            elif kind == "truncate":
                w = spec[3]
                preds.append(
                    F.col(name).between(
                        F.floor(F.lit(lo) / w) * w,
                        F.floor(F.lit(hi) / w) * w,
                    )
                )
            elif kind == "identity":
                preds.append(F.col(name).between(F.lit(lo), F.lit(hi)))
        else:
            if kind == "bucket":
                n = spec[3]
                preds.append(
                    F.col(name) == F.pmod(F.hash(F.lit(v)), F.lit(n))
                )
            elif kind == "days":
                preds.append(F.col(name) == F.to_date(F.lit(v)))
            elif kind == "months":
                preds.append(
                    F.col(name) == F.date_format(F.lit(v), "yyyy-MM")
                )
            elif kind == "truncate":
                w = spec[3]
                preds.append(F.col(name) == F.floor(F.lit(v) / w) * w)
            elif kind == "identity":
                preds.append(F.col(name) == F.lit(v))
    return preds
