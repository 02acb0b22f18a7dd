"""Dataset maintenance: atomic versioned publish + orphan vacuum.

The dataset-granularity generalization of the copy executor's
tmp+rename+verify protocol (DefaultCopyFilesMapper.java:140-198): a
publish writes a full new version directory, verifies it, atomically
renames it into place, and swaps a _CURRENT pointer file — readers
either see the old version or the new one, never a half-written mix.
Vacuum is the mirror-delete idea (DistCpUtils.deleteNonexisting,
DistCpUtils.java:136-223) applied to table maintenance: list the
dataset root, anti-select everything not referenced by a retained
version, delete distributed.

At 100 TB the same protocol maps onto an object store: version dirs
become key prefixes, the pointer swap a single small-object PUT (the
only operation that needs atomicity), and vacuum's listing the
distributed lister over the prefix.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CURRENT_FILE = "_CURRENT"


def current_version(root: str) -> int:
    """Version the _CURRENT pointer names, or 0 if none published."""
    try:
        with open(os.path.join(root, CURRENT_FILE)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


def publish_dataset(df: DataFrame, root: str) -> int:
    """Atomically publish ``df`` as the next version of the dataset at
    ``root``. Returns the new version number.

    Protocol (tmp+verify+rename+pointer-swap):
      1. write parquet to ``_tmp_v<N>`` (never visible to readers);
      2. verify the written copy row-counts against the input;
      3. rename to ``v=<N>`` (atomic on POSIX);
      4. swap the ``_CURRENT`` pointer via write-tmp + os.replace.
    A crash at any step leaves the previous version fully readable;
    leftover ``_tmp_*`` debris is vacuum's job.
    """
    os.makedirs(root, exist_ok=True)
    # next version = max(pointer, existing v=N dirs) + 1: a crash
    # BETWEEN the version-dir rename and the pointer swap leaves an
    # orphan v=N+1 dir; deriving nxt from the pointer alone would then
    # collide with it forever. The orphan stays readable and is
    # retained/reclaimed by vacuum's version-window policy.
    existing = [
        int(d[2:]) for d in os.listdir(root)
        if d.startswith("v=") and d[2:].isdigit()
    ]
    nxt = max([current_version(root)] + existing) + 1
    tmp = os.path.join(root, f"_tmp_v{nxt}")
    final = os.path.join(root, f"v={nxt}")
    df.write.mode("overwrite").parquet(tmp)
    # verify before publish (the copy executor's double-check, at
    # dataset granularity): the parquet footer count must equal the
    # input count
    spark = df.sparkSession
    written = spark.read.parquet(tmp).count()
    expected = df.count()
    if written != expected:
        shutil.rmtree(tmp, ignore_errors=True)
        raise OSError(
            f"publish verify failed: wrote {written} rows, expected {expected}"
        )
    if os.path.exists(final):
        raise OSError(f"version dir already exists: {final}")
    os.rename(tmp, final)
    ptr_tmp = os.path.join(root, CURRENT_FILE + ".tmp")
    with open(ptr_tmp, "w") as f:
        f.write(str(nxt))
    os.replace(ptr_tmp, os.path.join(root, CURRENT_FILE))
    return nxt


def read_current(spark: SparkSession, root: str) -> DataFrame:
    """Read the currently-published version (the pointer indirection
    is what makes publish atomic for readers)."""
    v = current_version(root)
    if v == 0:
        raise FileNotFoundError(f"no published version at {root}")
    return spark.read.parquet(os.path.join(root, f"v={v}"))


def plan_vacuum(
    spark: SparkSession, root: str, keep_last: int = 2
) -> DataFrame:
    """Plan the vacuum as a DataFrame of doomed paths (dry-run
    inspectable, the O19 plan/execute split): every file under ``root``
    not belonging to one of the ``keep_last`` most recent published
    versions or the pointer file — old version dirs, ``_tmp_*``
    debris from crashed publishes, stray files."""
    from distcpplus_spark.sources.lister import list_tree

    cur = current_version(root)
    versions = sorted(
        int(d[2:]) for d in os.listdir(root)
        if d.startswith("v=") and d[2:].isdigit()
    )
    keep = {v for v in versions if v > cur - keep_last} | {cur}
    keep_prefixes = [f"v={v}/" for v in sorted(keep)] + [f"v={v}" for v in sorted(keep)]

    listing = list_tree(spark, [root], include_roots=False, prefix_base=False)
    kept = F.col("relative_dst") == CURRENT_FILE
    for p in keep_prefixes:
        kept = kept | F.col("relative_dst").startswith(p)
    doomed = listing.filter(~kept)
    # ancestor suppression (DistCpUtils.isAncestorPath): keep only the
    # topmost doomed entries so a removed dir's children aren't
    # re-deleted — a doomed path is dropped when its parent is doomed
    parent = F.when(
        F.instr(F.col("relative_dst"), "/") > 0,
        F.expr(
            "substring(relative_dst, 1, length(relative_dst) - "
            "length(element_at(split(relative_dst, '/'), -1)) - 1)"
        ),
    )
    doomed_dirs = doomed.filter(F.col("is_dir")).select(
        F.col("relative_dst").alias("_parent")
    )
    return (
        doomed.withColumn("_parent", parent)
        .join(doomed_dirs, "_parent", "left_anti")
        .drop("_parent")
    )


def vacuum(
    spark: SparkSession, root: str, keep_last: int = 2, dry_run: bool = False
) -> int:
    """Execute the vacuum plan (distributed foreachPartition delete,
    like mirror delete). Returns the number of top-level entries
    removed; ``dry_run`` only counts."""
    doomed = plan_vacuum(spark, root, keep_last)
    n = doomed.count()
    if dry_run or n == 0:
        return n

    def delete_partition(rows) -> None:
        for row in rows:
            target = os.path.join(root, row["relative_dst"])
            try:
                if row["is_dir"]:
                    shutil.rmtree(target, ignore_errors=True)
                elif os.path.exists(target):
                    os.remove(target)
            except OSError:
                pass

    doomed.foreachPartition(delete_partition)
    return n


def compact_dataset(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a parquet dataset so files
    approach ``target_bytes`` each. The small-files problem is the
    classic 100 TB operational failure — a streaming sink or
    over-parallel write leaves millions of KB-sized files, and scan
    planning (footer reads, task scheduling) starts to dominate
    query time. Compaction = one read + one repartition to
    ceil(total_bytes/target) + an atomic swap (tmp dir + rename),
    publishing the same rows in fewer, larger files.

    Returns {files_before, files_after, bytes_total, rows} for
    reporting; the rewrite itself is fully distributed — the driver
    only lists file sizes."""
    import math
    import os
    import shutil

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    bytes_total = sum(os.path.getsize(f) for f in files)
    n_before = len(files)
    n_target = max(1, math.ceil(bytes_total / target_bytes))
    df = spark.read.parquet(path)
    rows = df.count()
    tmp = path.rstrip("/") + "__compact_tmp"
    df.repartition(n_target).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    files_after = [
        f
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "files_before": n_before,
        "files_after": len(files_after),
        "bytes_total": bytes_total,
        "rows": rows,
    }


def read_version(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time-travel read: any still-retained published version is
    addressable by number (vacuum's retention window governs how far
    back this reaches). Same cost as a current read — the version is
    just a directory."""
    path = os.path.join(root, f"v={version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"version {version} not found at {root} (vacuumed or never "
            f"published)"
        )
    return spark.read.parquet(path)
