"""The copy executor: the engine's one genuinely imperative operator.

Task placement is not decided here: the plan arrives laid out by
plans/copy_plan.py::layout_tasks (cost bucket b is partition b), and
the copier maps over those partitions as they are.

Per plan row (inside mapPartitions — distributed, no driver loop):
mkdir for dirs; re-check skip condition at exec time (plan may be
stale, DefaultCopyFilesMapper.java:129-136); stream bytes to
``<dst>/_distcp_tmp_<runid>/<relative>`` in 128 KB chunks; verify
copied length; atomic publish via delete-then-rename; verify again
post-rename; preserve attributes. Failures are caught per-row and
emitted as result rows (DefaultCopyFilesMapper.java:248-287) — the
job-level failure gate is relational (count FAIL rows).

A chunked plan (:func:`split_into_chunks`) holds a large file as
byte-range rows, written in place into the file's one tmp file; the
file is published once all its ranges ran, like a whole file.

Mirrors the protocol of DefaultCopyFilesMapper.java:105-206 and
DistCpUtils.rename (DistCpUtils.java:44-57), re-expressed for a
POSIX filesystem. The tmp path is the same for every attempt of a
task, as in the reference, so speculative execution must stay off for
copy jobs (two writers, one dst — DistCPPlus.java:459-461; Spark's
default is off). What guards the publish is the length check before
and after the rename and the rename's atomicity: a reader sees the
old file or the whole new one, never a partial copy.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from collections import defaultdict
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

COPY_BUFFER_BYTES = 128 * 1024  # copy.buf.size, DefaultCopyFilesMapper.java:33
CLEANUP_RETRIES = 3  # DefaultCopyFilesMapper.java:267-279
CLEANUP_RETRY_SLEEP_S = 3.0

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("relative_dst", T.StringType(), True),
        T.StructField("action", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # COPY|SKIP|MKDIR|FAIL
        T.StructField("bytes_copied", T.LongType(), False),
        T.StructField("bytes_expected", T.LongType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("elapsed_ms", T.LongType(), False),
    ]
)


class CopyFailedError(Exception):
    """Raised by the job-level gate when FAIL rows exist and
    ignore_failures is off (DefaultCopyFilesMapper.java:289-295)."""


def _copy_one(
    src: str,
    tmp_path: str,
    final_path: str,
    expected_len: int,
    preserve: frozenset[str],
    src_stat: os.stat_result,
) -> int:
    os.makedirs(os.path.dirname(tmp_path), exist_ok=True)
    copied = 0
    with open(src, "rb") as fin, open(tmp_path, "wb") as fout:
        while True:
            buf = fin.read(COPY_BUFFER_BYTES)
            if not buf:
                break
            fout.write(buf)
            copied += len(buf)
    _publish_tmp(tmp_path, final_path, expected_len, preserve, src_stat)
    return copied


def _publish_tmp(
    tmp_path: str,
    final_path: str,
    expected_len: int,
    preserve: frozenset[str],
    src_stat: os.stat_result,
) -> None:
    """Verify a finished tmp file and publish it at ``final_path``."""
    # verify tmp length (DefaultCopyFilesMapper.java:166-171)
    actual = os.stat(tmp_path).st_size
    if actual != expected_len:
        raise OSError(
            f"length mismatch after copy: expected {expected_len}, got {actual}"
        )
    # atomic publish: delete-then-rename (DistCpUtils.java:44-57)
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    if os.path.exists(final_path):
        os.remove(final_path)
    os.replace(tmp_path, final_path)
    # verify post-rename (DefaultCopyFilesMapper.java:191-198)
    actual = os.stat(final_path).st_size
    if actual != expected_len:
        raise OSError(
            f"length mismatch after rename: expected {expected_len}, got {actual}"
        )
    _apply_attrs(final_path, src_stat, preserve)


def _apply_attrs(path: str, src_stat: os.stat_result, preserve: frozenset[str]) -> None:
    """-p attribute preservation for files, applied in-task
    (DistCPPlus.java:234-262; dirs are finalized post-job).

    u/g → chown (DistCPPlus.java:239-248), p → chmod (:250-253),
    t → utime. chown runs BEFORE chmod: chown clears setuid/setgid
    bits, so the reverse order would silently drop them. r/b
    (replication/block size) have no POSIX meaning and are ignored.
    """
    import stat as statmod

    if "u" in preserve or "g" in preserve:
        os.chown(
            path,
            src_stat.st_uid if "u" in preserve else -1,
            src_stat.st_gid if "g" in preserve else -1,
        )
    if "p" in preserve:
        os.chmod(path, statmod.S_IMODE(src_stat.st_mode))
    if "t" in preserve:
        os.utime(path, (src_stat.st_atime, src_stat.st_mtime))


def finalize_dir_attrs(
    result: DataFrame, dst_root: str, preserve: frozenset[str]
) -> None:
    """O16 finalize pass (DistCPPlus.finalize, DistCPPlus.java:264-297):
    after all copies land, apply owner/group/permission to every copied
    directory. Dirs are created with default modes in-task (a parent
    dir's mode must stay writable while children stream in), so the
    attribute pass has to run after the copy action — the action
    boundary IS the ordering barrier. Timestamps are deliberately not
    set on dirs, matching the reference (HDFS-2436 exclusion).

    Distributed: foreachPartition over the result's MKDIR rows — the dir
    manifest (_distcp_dst_dirs analogue) never collects to the driver.
    """
    if not (preserve & {"p", "u", "g"}):
        return
    dirs = result.filter(F.col("status") == "MKDIR").select(
        "path", "relative_dst"
    )

    def set_attrs(rows: Iterator) -> None:
        import stat as statmod

        for row in rows:
            target = os.path.join(dst_root, row["relative_dst"])
            try:
                st = os.stat(row["path"])
            except OSError:
                continue  # src dir vanished since planning
            # each attribute applies INDEPENDENTLY (like the
            # reference's finalize): a chown EPERM (non-superuser)
            # must not rob the dir of the chmod that would succeed
            if "u" in preserve or "g" in preserve:
                try:
                    os.chown(
                        target,
                        st.st_uid if "u" in preserve else -1,
                        st.st_gid if "g" in preserve else -1,
                    )
                except OSError:
                    pass
            if "p" in preserve:
                try:
                    os.chmod(target, statmod.S_IMODE(st.st_mode))
                except OSError:
                    pass

    dirs.foreachPartition(set_attrs)


def default_copy_fn(
    rows: Iterator, dst_root: str, tmp_root: str, preserve: frozenset[str]
) -> Iterator[tuple]:
    """Copy a partition of plan rows; yields result tuples.

    This is the default "mapper"; the engine accepts a user-supplied
    replacement (the -mapper pluggable surface, DistCPPlus.java:467-480).
    """
    import stat as statmod

    for row in rows:
        t0 = time.time()
        rel = row["relative_dst"]
        final_path = os.path.join(dst_root, rel)
        try:
            if row["is_dir"]:
                os.makedirs(final_path, exist_ok=True)
                yield (
                    row["path"], rel, row["action"], "MKDIR", 0, 0, None,
                    int((time.time() - t0) * 1000),
                )
                continue
            src_stat = os.stat(row["path"])
            expected = src_stat.st_size
            # exec-time re-check (P12): plan may be stale by now
            if (
                row["action"] == "copy_changed"
                and os.path.exists(final_path)
                and os.stat(final_path).st_size == expected
                and int(os.stat(final_path).st_mtime) == int(src_stat.st_mtime)
            ):
                yield (
                    row["path"], rel, row["action"], "SKIP", 0, expected, None,
                    int((time.time() - t0) * 1000),
                )
                continue
            tmp_path = os.path.join(tmp_root, rel)
            copied = 0
            try:
                copied = _copy_one(
                    row["path"], tmp_path, final_path, expected,
                    preserve, src_stat,
                )
            except Exception:
                # tmp cleanup with retries (DefaultCopyFilesMapper.java:267-279)
                for attempt in range(CLEANUP_RETRIES):
                    try:
                        if os.path.exists(tmp_path):
                            os.remove(tmp_path)
                        break
                    except OSError:
                        time.sleep(CLEANUP_RETRY_SLEEP_S)
                raise
            yield (
                row["path"], rel, row["action"], "COPY", copied, expected, None,
                int((time.time() - t0) * 1000),
            )
        except Exception as e:  # per-row failure isolation (O14)
            yield (
                row["path"], rel, row.asDict().get("action"), "FAIL", 0,
                row["length"], f"{type(e).__name__}: {e}",
                int((time.time() - t0) * 1000),
            )


def execute_copy(
    plan: DataFrame,
    dst_root: str,
    run_id: str,
    preserve: frozenset[str] = frozenset(),
    copy_fn: Callable | None = None,
) -> DataFrame:
    """Run the copy: one ``mapPartitions(copy)`` over the plan as
    :func:`~distcpplus_spark.plans.copy_plan.layout_tasks` laid it
    out, so partition b is cost bucket b. The copier places nothing
    itself.

    Returns the result DataFrame (one row per plan row, but one per
    split file) — the engine's counters (O15) are aggregations over it.
    ``copy_fn`` swaps the copy implementation (pluggable-mapper
    surface, O18) for dirs and whole files; it never sees a range row.

    A chunked plan's range rows (``n_chunks`` > 1) are written in place
    by :func:`write_range`. One shuffle then moves each result to the
    task of its bucket, and a range's to that of its file's first range
    (``first_bucket``), which publishes the file (:func:`_publish_ranges`).
    """
    tmp_root = os.path.join(dst_root, f"_distcp_tmp_{run_id}")
    fn = copy_fn or default_copy_fn

    def run_partition(rows: Iterator) -> Iterator[tuple]:
        return fn(rows, dst_root, tmp_root, preserve)

    if "n_chunks" not in plan.columns:
        return plan.sparkSession.createDataFrame(
            plan.rdd.mapPartitions(run_partition), RESULT_SCHEMA
        )

    def transfer(bucket: int, rows: Iterator) -> Iterator[tuple]:
        ranges = []

        def whole(rows: Iterator) -> Iterator:
            for row in rows:
                if row["n_chunks"] > 1:
                    ranges.append(row)
                else:
                    yield row

        for out in run_partition(whole(rows)):
            yield bucket, (None, out)
        for row in ranges:
            tmp_path = os.path.join(tmp_root, row["relative_dst"])
            try:
                copied, crc = write_range(
                    row["path"], tmp_path, row["offset"], row["chunk_len"]
                )
                out = (copied, crc, None)
            except Exception as e:
                out = (0, 0, f"{type(e).__name__}: {e}")
            yield row["first_bucket"], (row, out)

    def publish(items: Iterator) -> Iterator[tuple]:
        files = defaultdict(list)
        for _, (row, out) in items:
            if row is None:
                yield out
            else:
                files[row["relative_dst"]].append((row, *out))
        for ranges in files.values():
            yield _publish_ranges(ranges, dst_root, tmp_root, preserve)

    rows = plan.rdd
    published = (
        rows.mapPartitionsWithIndex(transfer)
        .partitionBy(rows.getNumPartitions(), lambda bucket: bucket)
        .mapPartitions(publish)
    )
    return plan.sparkSession.createDataFrame(published, RESULT_SCHEMA)


def counters(result: DataFrame) -> dict[str, int]:
    """Counter aggregation (O15): a count per status (COPY, SKIP, FAIL,
    MKDIR and any a custom copy_fn emits) + byte totals, one pass. On
    the engine's lazily checkpointed result this is the job that runs
    the copy."""
    rows = (
        result.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("bytes_copied").alias("bytes"),
            F.sum("bytes_expected").alias("expected"),
        )
        .collect()
    )
    out = {"COPY": 0, "SKIP": 0, "FAIL": 0, "MKDIR": 0,
           "BYTESCOPIED": 0, "BYTESEXPECTED": 0}
    for r in rows:
        out[r["status"]] = r["n"]
        out["BYTESCOPIED"] += r["bytes"] or 0
        out["BYTESEXPECTED"] += r["expected"] or 0
    return out


def cleanup_tmp(dst_root: str, run_id: str) -> None:
    """Remove the run's tmp dir (cleanupJob, DistCPPlus.java:389-403)."""
    tmp_root = os.path.join(dst_root, f"_distcp_tmp_{run_id}")
    shutil.rmtree(tmp_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Chunked copy: intra-file parallelism for files >> bytes_per_task
# ---------------------------------------------------------------------------


def split_into_chunks(plan: DataFrame, chunk_bytes: int) -> DataFrame:
    """Explode file rows larger than ``chunk_bytes`` into byte-range
    chunk rows (chunk_idx, offset, chunk_len, n_chunks); every other row
    stays one row with ``n_chunks`` 1. A row's ``cost`` becomes the
    bytes it copies (0 for a dir), so a file's ranges cost its length.

    This removes the last straggler class cost-bucketing can't fix: a
    single file bigger than the per-task byte budget is otherwise ONE
    task no matter how many executors idle (true of the reference too —
    DefaultCopyFilesMapper copies a file serially). The ranges are
    written in place into one tmp file (:func:`write_range`), as an
    object store's multipart upload writes parts of one object.
    """
    n_chunks = F.greatest(
        F.ceil(F.col("length") / F.lit(chunk_bytes)), F.lit(1)
    ).cast("int")
    return (
        plan.withColumn("n_chunks", F.when(F.col("is_dir"), 1).otherwise(n_chunks))
        .withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)),
        )
        .withColumn("offset", F.col("chunk_idx").cast("long") * chunk_bytes)
        .withColumn(
            "chunk_len",
            F.least(F.lit(chunk_bytes).cast("long"), F.col("length") - F.col("offset")),
        )
        .withColumn("cost", F.when(F.col("is_dir"), 0).otherwise(F.col("chunk_len")))
    )


def write_range(src: str, tmp_path: str, offset: int, length: int) -> tuple[int, int]:
    """Copy bytes ``[offset, offset + length)`` of ``src`` to the same
    offset of ``tmp_path``, created if missing and never truncated, so
    any task can write any range of a file. Returns ``(bytes copied,
    CRC-32 of the range)``, the CRC computed in-stream."""
    os.makedirs(os.path.dirname(tmp_path), exist_ok=True)
    copied = crc = 0
    fd = os.open(tmp_path, os.O_WRONLY | os.O_CREAT, 0o666)
    try:
        with open(src, "rb") as fin:
            fin.seek(offset)
            while copied < length:
                buf = fin.read(min(COPY_BUFFER_BYTES, length - copied))
                if not buf:
                    break
                if os.pwrite(fd, buf, offset + copied) != len(buf):
                    raise OSError(f"short write at offset {offset + copied}")
                crc = zlib.crc32(buf, crc)
                copied += len(buf)
    finally:
        os.close(fd)
    if copied != length:
        raise OSError(f"range length mismatch: expected {length}, got {copied}")
    return copied, crc


def _publish_ranges(
    ranges: list[tuple], dst_root: str, tmp_root: str, preserve: frozenset[str]
) -> tuple:
    """Publish one split file from its ranges' ``(row, bytes copied,
    crc, error)``: a COPY or FAIL result row. Every range must have
    copied, the source must still have its planned length (a grown one
    would publish truncated), and the tmp file, re-read, must have the
    CRC its ranges saw in transfer; then the whole-file publish."""
    from distcpplus_spark.operators.checksum import combine_chunk_crcs

    t0 = time.time()
    row = ranges[0][0]
    path, rel, length = row["path"], row["relative_dst"], row["length"]
    tmp_path = os.path.join(tmp_root, rel)
    try:
        errors = [error for *_, error in ranges if error]
        if errors or len(ranges) != row["n_chunks"]:
            raise OSError(errors[0] if errors else "missing ranges")
        src_stat = os.stat(path)
        if src_stat.st_size != length:
            raise OSError(
                f"source length drifted since planning: "
                f"planned {length}, now {src_stat.st_size}"
            )
        ranges.sort(key=lambda r: r[0]["chunk_idx"])
        expected_crc = combine_chunk_crcs([(crc, n) for _, n, crc, _ in ranges])
        actual_crc = 0
        with open(tmp_path, "rb") as fin:
            while buf := fin.read(COPY_BUFFER_BYTES):
                actual_crc = zlib.crc32(buf, actual_crc)
        if actual_crc != expected_crc:
            raise OSError(
                f"composite CRC mismatch: transfer saw {expected_crc:#010x}, "
                f"tmp file has {actual_crc:#010x}"
            )
        _publish_tmp(
            tmp_path, os.path.join(dst_root, rel), length, preserve, src_stat
        )
        status, copied, error = "COPY", sum(r[1] for r in ranges), None
    except Exception as e:
        status, copied, error = "FAIL", 0, f"{type(e).__name__}: {e}"
    return (
        path, rel, row["action"], status, copied, length, error,
        int((time.time() - t0) * 1000),
    )
