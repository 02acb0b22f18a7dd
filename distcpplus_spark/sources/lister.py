"""Distributed recursive file listing → file_meta DataFrame.

The reference walks the tree single-threaded on the driver with an
explicit stack (DistCPPlus.java:644-749) and batches metadata RPCs by
parent directory (FileStatusClusterOptimizer.java:33-147). That design
caps out at millions of files: the driver becomes the bottleneck and
holds the whole manifest in memory.

Here listing is itself a Spark job — iterative frontier expansion
(BFS-on-Spark): seed the frontier with the root dirs, fan out one
``listStatus`` per directory inside ``mapPartitions``, repeat per
level. Each wave is a distributed job, so a 100M-file tree lists at
cluster speed and the manifest lives in a DataFrame (spillable,
checkpointable to parquet), not driver heap. The per-directory listing
is the same RPC-batching trick as the reference's optimizer — one
scandir per directory, never one stat per file.

The listing is materialized ONCE, like the reference's single walk:
each distributed wave is one local-checkpointed DataFrame whose
frontier collect fills the checkpoint, and all driver-scanned rows
form one more (lazily checkpointed) frame. The copy plan, the update
join, the mirror delete and the skip counter then all read JVM rows;
none of them re-runs the scan or re-converts its rows in Python
workers. The result is a snapshot of the tree at listing time, so the
copy set and the delete set always come from the same listing. A
checkpoint block lost with its executor fails the job that needs it;
the lister never silently re-lists a tree that may have changed since.
"""

from __future__ import annotations

import os
import stat as statmod

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distcpplus_spark.plans.copy_plan import CopyOptions, sync_diff

FILE_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("relative_dst", T.StringType(), True),
        T.StructField("length", T.LongType(), False),
        T.StructField("is_dir", T.BooleanType(), False),
        T.StructField("mtime", T.TimestampType(), True),
        T.StructField("atime", T.TimestampType(), True),
        T.StructField("owner", T.StringType(), True),
        T.StructField("group", T.StringType(), True),
        T.StructField("permission", T.IntegerType(), True),
        T.StructField("replication", T.IntegerType(), True),
        T.StructField("block_size", T.LongType(), True),
    ]
)

# A distributed wave's rows also carry the root they were listed
# under: the wave's directory rows are the next frontier.
_WAVE_SCHEMA = T.StructType(
    FILE_META_SCHEMA.fields + [T.StructField("_root", T.StringType(), False)]
)


def _stat_to_entry(
    path: str, st: os.stat_result, root: str, prefix_base: bool = True
) -> tuple:
    import datetime

    # The reference's makeRelative (DistCPPlus.java:410-430): copying
    # root /a/b to dst lands the tree at dst/b/... — every relative
    # path is prefixed with the root's basename. Destination listings
    # use prefix_base=False (relative to the dst root itself).
    rel = os.path.relpath(path, root)
    if prefix_base:
        base = os.path.basename(root.rstrip("/"))
        rel = base if rel == "." else os.path.join(base, rel)
    elif rel == ".":
        rel = ""
    is_dir = statmod.S_ISDIR(st.st_mode)
    return (
        path,
        rel,
        0 if is_dir else st.st_size,
        is_dir,
        datetime.datetime.fromtimestamp(st.st_mtime, tz=datetime.timezone.utc).replace(
            tzinfo=None
        ),
        datetime.datetime.fromtimestamp(st.st_atime, tz=datetime.timezone.utc).replace(
            tzinfo=None
        ),
        str(st.st_uid),
        str(st.st_gid),
        statmod.S_IMODE(st.st_mode),
        1,
        4096,
    )


def _scan_dirs(
    dirs: list[tuple[str, str]],
    prefix_base: bool = True,
    skip_unreadable: bool = False,
) -> tuple[list[tuple], list[tuple[str, str]]]:
    """One os.scandir per directory (RPC batching, P3): returns
    (entry rows, child dirs as (path, root)).

    Fails closed, like the reference's ``listStatus``: a path that
    vanished mid-walk is absent, as it would be at listing time, but
    any other error (an unreadable directory) propagates. Dropping it
    would make the subtree look empty, and ``-delete`` would then
    delete its mirror. ``skip_unreadable`` drops every error instead;
    see ``list_tree``."""
    tolerated = OSError if skip_unreadable else FileNotFoundError
    rows: list[tuple] = []
    children: list[tuple[str, str]] = []
    for d, root in dirs:
        try:
            with os.scandir(d) as it:
                for de in it:
                    try:
                        st = de.stat(follow_symlinks=False)
                    except tolerated:
                        continue
                    rows.append(_stat_to_entry(de.path, st, root, prefix_base))
                    if de.is_dir(follow_symlinks=False):
                        children.append((de.path, root))
        except tolerated:
            continue
    return rows, children


class _ErrorList(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        return a + b


def list_tree(
    spark: SparkSession,
    roots: list[str],
    include_roots: bool = True,
    fanout_threshold: int = 64,
    prefix_base: bool = True,
    skip_unreadable: bool = False,
) -> DataFrame:
    """List file trees under ``roots`` into a file_meta DataFrame.

    BFS frontier expansion: while the frontier is small the driver
    scans it directly (no job-launch overhead); once it exceeds
    ``fanout_threshold`` directories, each wave is distributed via
    ``sc.parallelize(frontier).mapPartitions``. This keeps tiny trees
    fast AND huge trees scalable — the reference's single-threaded
    stack walk (DistCPPlus.java:644-749) only had the first mode.

    A distributed wave runs ``min(len(frontier), defaultParallelism)``
    tasks: one task round. Wave tasks are Python tasks, and a second
    round costs more than the scandirs it spreads out at small sizes.
    Measured on 4 vCPU (defaultParallelism 4), medians of 7 warm runs:
    an 8-task Python RDD job takes 0.79 s, a 4-task one 0.34 s, an
    8-task JVM job 0.11 s. In the copy benchmark (``perfbench``,
    ``sync_update_delete``, two 128-directory waves, ``--trace 1``,
    one run each) the two listings went from 16 tasks and 2.33 s to
    8 tasks and 1.48 s, same rows. A wide, skewed tree lists faster
    too: 200 top dirs with 2000/(i+1) subdirs each (11,662 dirs in
    the second wave, one top-level slice holding ~3/4 of them,
    36,559 rows) took a median 2.57 s in 27 tasks against 3.40 s in
    51 with two rounds per wave (3 alternating pairs of 5 warm runs).

    The returned frame is a snapshot: every scan runs once, inside
    this call, and downstream consumers read the rows as JVM blocks
    (local checkpoints), never re-running the scan through Python
    workers; see the module docstring.

    A listing error other than a vanished path raises an ``OSError`` on
    the driver, from a distributed wave too. Destination listings pass
    ``skip_unreadable=True``: an unreadable destination subtree then
    looks empty, which can only mean fewer deletes or per-file copy
    failures that are already counted, whereas an unreadable source
    subtree that looked empty would have its mirror deleted.
    """
    sc = spark.sparkContext

    local_rows: list[tuple] = []
    frontier: list[tuple[str, str]] = []

    for root in roots:
        root = os.path.abspath(root)
        st = os.stat(root)
        if include_roots:
            local_rows.append(_stat_to_entry(root, st, root, prefix_base))
        if statmod.S_ISDIR(st.st_mode):
            frontier.append((root, root))

    waves: list[DataFrame] = []
    while frontier:
        if len(frontier) <= fanout_threshold:
            rows, frontier = _scan_dirs(frontier, prefix_base, skip_unreadable)
            local_rows.extend(rows)
        else:
            # Distributed wave: file rows STAY on executors as JVM
            # blocks; only the child directories — orders of magnitude
            # fewer than the file rows — return to the driver to seed
            # the next wave. Collecting the rows here would rebuild the
            # reference's driver-memory bottleneck at exactly the scale
            # this lister exists for. Each row carries its root, so the
            # children are the wave's own directory rows, and the
            # frontier collect is the job that fills the checkpoint.
            n_parts = min(len(frontier), sc.defaultParallelism)

            # An executor's listing error would reach the driver as a
            # wrapped Python worker exception; it comes back through an
            # accumulator instead and is raised here as the OSError it is.
            errors = sc.accumulator([], _ErrorList())

            def scan_wave(
                it, _pb=prefix_base, _skip=skip_unreadable, _errors=errors
            ):
                for d, root in it:
                    try:
                        rows = _scan_dirs([(d, root)], _pb, _skip)[0]
                    except OSError as e:
                        _errors.add([(e.errno, e.strerror, e.filename)])
                        continue
                    for r in rows:
                        yield r + (root,)

            wave = spark.createDataFrame(
                sc.parallelize(frontier, n_parts).mapPartitions(scan_wave),
                _WAVE_SCHEMA,
            ).localCheckpoint(eager=False)
            frontier = [
                (r["path"], r["_root"])
                for r in wave.filter(F.col("is_dir"))
                .select("path", "_root")
                .collect()
            ]
            if errors.value:
                raise OSError(*errors.value[0])
            waves.append(wave.drop("_root"))

    frames = waves
    if local_rows or not waves:
        # All driver-scanned rows as ONE one-slice frame, lazily
        # checkpointed: createDataFrame over an RDD is a Python-
        # evaluated relation, so its first read converts the rows once
        # into JVM blocks and every later read uses those blocks
        # instead of another Python worker round trip. Driver-scanned
        # waves are small by construction (a frontier above
        # fanout_threshold goes distributed), so one slice is also the
        # right parallelism.
        frames = [
            spark.createDataFrame(
                sc.parallelize(local_rows, numSlices=1), FILE_META_SCHEMA
            ).localCheckpoint(eager=False)
        ] + waves
    out = frames[0]
    for d in frames[1:]:
        out = out.unionByName(d)
    return out.withColumn(
        "cost", F.when(F.col("is_dir"), F.lit(0)).otherwise(F.col("length"))
    )


def read_uri_list(spark: SparkSession, urilist_path: str) -> list[str]:
    """-f urilist source (DistCpUtils.java:378-394): newline-delimited
    paths → list of roots."""
    return [
        r[0]
        for r in spark.read.text(urilist_path).select("value").collect()
        if r[0].strip()
    ]


def relist_diff(
    spark: SparkSession,
    roots: list[str],
    prev_manifest: DataFrame,
    check_mtime: bool = False,
    include_unchanged: bool = False,
) -> DataFrame:
    """Incremental re-listing: diff a FRESH listing of ``roots``
    against a previously persisted file_meta manifest — the manifest
    twin of O1 the way incremental_sync is the streaming twin of O7.
    A nightly re-run plans against the delta (created / modified /
    deleted) instead of re-copying the world; the previous manifest
    is the parquet the last run's ``list_tree`` was persisted as.

    Change predicate mirrors -update (DistCpUtils.java:239-291):
    length inequality always marks modified; ``check_mtime`` adds
    mtime inequality (off by default — mtime is filesystem-
    granularity-dependent, and the copy executor re-verifies
    checksums at execution time anyway). A file<->dir type change is
    'replaced' (delete + copy for the caller).

    Scale: both sides are metadata manifests (rows ~ file count, not
    bytes); the diff is the copy planner's own full-outer join keyed
    on relative_dst (plans/copy_plan.py::sync_diff, its -update
    predicate without checksums). For repeated nightly diffs over
    1e9-file trees, persist both manifests bucketed by relative_dst so
    the join is shuffle-free.
    """
    diff = sync_diff(
        list_tree(spark, roots),
        prev_manifest,
        CopyOptions(
            update=True, skip_ts_check=not check_mtime, skip_crc_check=True
        ),
    )
    change_type = (
        F.when(F.col("action") == "delete", F.lit("deleted"))
        .when(F.col("d_relative_dst").isNull(), F.lit("created"))
        .when(F.col("is_dir") != F.col("d_is_dir"), F.lit("replaced"))
        .when(F.col("is_dir"), F.lit("unchanged"))  # dirs: presence only
        .when(F.col("action") == "copy_changed", F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    out = diff.select(
        F.coalesce(F.col("relative_dst"), F.col("d_relative_dst")).alias(
            "relative_dst"
        ),
        change_type.alias("change_type"),
        "length",
        F.col("d_length").alias("prev_length"),
        F.coalesce(F.col("is_dir"), F.col("d_is_dir")).alias("is_dir"),
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out
