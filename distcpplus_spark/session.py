"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads, but every config here is
chosen to also be the right default on a large cluster: AQE handles
runtime re-planning (partition coalescing, skew joins), Arrow speeds up
the Pandas-UDF slow path, and the session timezone is pinned to UTC so
timestamp semantics are deterministic and oracle-comparable.

Importing this module (the package ``__init__`` does) also makes a
Python task's fixed cost small. PySpark runs
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). Up to CPython 3.12,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory, in pure Python, and every package inside an archive has its
own importer: one task re-parsed ``pyspark.zip`` (1,328 entries) 16
times, nearly all of a trivial task's time in a reused worker.
CPython 3.13 made the invalidation lazy (``zipimporter._get_files``).
On older versions :func:`_stat_checked_zip_invalidation` re-reads an
archive only when its inode, size or mtime changed. Workers never call
:func:`get_spark`, but every worker that unpickles a package function
imports the package: its next task reads each archive once more, and
later tasks read none that is unchanged. Measured on 4 vCPU, Python
3.11.7, medians of 7 warm runs of a trivial ``mapPartitions`` job: 4
tasks 0.40 → 0.14 s, 8 tasks 0.63 → 0.21 s (an 8-task JVM job: 0.15 s).
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession


def _stat_checked_zip_invalidation() -> None:
    """Backport CPython 3.13's cheap ``zipimporter.invalidate_caches``:
    re-read an archive's directory only when ``(st_ino, st_size,
    st_mtime_ns)`` differs from the last read; otherwise adopt the
    shared ``_zip_directory_cache`` entry. A failing ``os.stat`` falls
    back to the original method. Idempotent; a no-op where
    ``zipimporter._get_files`` exists (3.13+)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches, "_stamps"):
        return
    reread = cls.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            return reread(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        # the stat taken BEFORE the read: a rewrite during the read
        # leaves a stale stamp, which only costs one more read
        stamps[self.archive] = stamp

    invalidate_caches._stamps = stamps
    cls.invalidate_caches = invalidate_caches


_stat_checked_zip_invalidation()

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "distcpplus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Scale notes: on a real cluster, drop ``master`` (taken from
    spark-submit) and raise ``spark.sql.shuffle.partitions`` to
    ~2-3x total cores; AQE coalescing makes over-partitioning cheap
    while under-partitioning causes spills, so err high.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer ShuffledHashJoin over SortMergeJoin when one side can
        # build per-partition hash maps (Spark still requires the build
        # side to be 3x smaller AND under threshold x num_partitions):
        # skips the full sort of the FACT side. Measured at sf10 on the
        # q05 lineitem(60M) x filtered-orders(7.5M) join: SMJ wall was
        # spill-jittery 7.5-23 s, SHJ steady 5.7-6.5 s. AQE's skew-join
        # splitting covers SHJ since Spark 3.2, and explicit merge()
        # hints still win where a sort is wanted, so the guardrails the
        # SMJ default existed for are all still in force.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
