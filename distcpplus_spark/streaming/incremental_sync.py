"""Incremental file sync: the streaming twin of the copy engine (M4).

Watches a source directory and incrementally syncs it to dst using
the SAME copy executor as the batch engine — foreachBatch turns each
micro-batch into a plan+execute run. The
reference has no streaming story; its closest analogue is re-running
`-update` on a cron, which rescans the world every time. Here the
file-source tracks processed files in the checkpoint, so each batch
plans only against the delta.

Design note: the stream carries file *paths* (cheap), not contents —
the copy executor reads bytes inside mapPartitions exactly as in
batch mode. At 100 TB, maxFilesPerTrigger bounds batch size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from distcpplus_spark.engine import CopyOptions, DistCpPlusEngine


def incremental_sync(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    checkpoint_dir: str,
    opts: CopyOptions | None = None,
    max_files_per_trigger: int = 1000,
    glob: str = "*",
) -> StreamingQuery:
    """Start a stream that mirrors new/changed files under src_root
    into dst_root. Returns the StreamingQuery (caller manages
    lifecycle: processAllAvailable / stop)."""
    opts = opts or CopyOptions(update=True, skip_ts_check=True)
    engine = DistCpPlusEngine(spark)

    paths = (
        spark.readStream.format("binaryFile")
        .schema(
            "path STRING, modificationTime TIMESTAMP, "
            "length BIGINT, content BINARY"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(src_root)
        # drop content immediately: the plan needs metadata only; the
        # copier re-reads bytes (binaryFile has no metadata-only mode)
        .select("path", "length", "modificationTime")
    )

    abs_root = os.path.abspath(src_root).rstrip("/")
    base = os.path.basename(abs_root)

    def sync_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # The batch IS the delta, metadata included — build the plan
        # rows straight from it. No re-listing of the source tree (the
        # whole point of incremental sync: per-batch work scales with
        # the delta, not the corpus). The copier's exec-time re-check
        # still skips rows whose dst already matches, so replays after
        # checkpoint recovery stay idempotent.
        from distcpplus_spark.engine import CopyPlan
        from distcpplus_spark.plans.copy_plan import assign_cost_buckets

        delta = (
            batch_df.withColumn(
                "path", F.regexp_replace("path", "^file:", "")
            )
            .select(
                "path",
                F.concat(
                    F.lit(base + "/"),
                    F.expr(f"substring(path, {len(abs_root) + 2})"),
                ).alias("relative_dst"),
                F.col("length"),
                F.lit(False).alias("is_dir"),
                F.col("modificationTime").alias("mtime"),
                F.col("length").alias("cost"),
                F.lit("copy_changed").alias("action"),
            )
        )
        delta = assign_cost_buckets(delta, opts.bytes_per_task, opts.max_tasks)
        # execute() hands back its cached result; a long-running sync
        # must not keep one cached relation per micro-batch
        engine.execute(
            CopyPlan(
                copies=delta,
                deletes=None,
                opts=opts,
                dst_root=dst_root,
                run_id=f"stream{batch_id}",
            )
        ).unpersist()

    return (
        paths.writeStream.foreachBatch(sync_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "sync"))
        .trigger(availableNow=True)
        .start()
    )
