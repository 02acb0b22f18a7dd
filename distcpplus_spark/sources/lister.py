"""Distributed recursive file listing → file_meta DataFrame, and the
mirror walk that pairs a source tree with its destination.

The reference walks the tree single-threaded on the driver with an
explicit stack (DistCPPlus.java:644-749) and checks each file against
the destination as it goes (``sameFile``, DistCPPlus.java:680-700);
its optimizer batches those checks into one ``listStatus`` of the
destination parent per source directory
(FileStatusClusterOptimizer.java:33-147). That design caps out at
millions of files: the driver becomes the bottleneck and holds the
whole manifest in memory.

Here listing is itself a Spark job — iterative frontier expansion
(BFS-on-Spark): each frontier item is one relative directory, and the
task that holds it scans every source directory that maps there, one
scandir per directory (the reference's RPC batching), never one stat
per file. Small frontiers are scanned on the driver; each wider wave
is one distributed job, so a 100M-file tree lists at cluster speed and
the manifest lives in a DataFrame, not driver heap.

A mirror walk (``list_tree(..., mirror=dst_root)``) scans
``dst_root/<rel>`` in the same task and pairs the entries by name, so a
sync needs no join of two listings. The bytes of tie pairs are compared
in executor tasks only: a wave's pairs in the wave's own task, and the
pairs of the levels the driver scans in the tasks that convert those
rows, inside the first job that reads the listing. It descends into
source directories only: a destination-only directory is one row,
never entered.

The listing is materialized ONCE, like the reference's single walk:
each distributed wave is one local-checkpointed DataFrame whose
frontier collect fills the checkpoint, and all driver-scanned rows
form one more (lazily checkpointed) frame. The copy plan, the mirror
delete and the skip counter then all read JVM rows; none of them
re-runs the scan or re-converts its rows in Python workers. The result
is a snapshot of the trees at listing time, so the copy set and the
delete set always come from the same listing. A checkpoint block lost
with its executor fails the job that needs it; the lister never
silently re-lists a tree that may have changed since.
"""

from __future__ import annotations

import datetime
import os
import re
import stat as statmod
from collections import defaultdict
from typing import NamedTuple

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distcpplus_spark.plans.copy_plan import (
    CopyOptions,
    compares_contents,
    contents_differ,
    sync_diff,
)

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

# A mirror walk's rows: the source entry's columns (NULL on a
# destination-only row), then the pair columns copy_plan.classify reads.
PAIR_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in FILE_META_SCHEMA.fields]
    + [
        T.StructField("_dup", T.BooleanType(), True),
        T.StructField("d_relative_dst", T.StringType(), True),
        T.StructField("d_path", T.StringType(), True),
        T.StructField("d_length", T.LongType(), True),
        T.StructField("d_mtime", T.TimestampType(), True),
        T.StructField("d_is_dir", T.BooleanType(), True),
        T.StructField("_crc_changed", T.BooleanType(), True),
    ]
)

# How a walk uses a row: a row of the result, a row it also descends
# from, or (below a -regexPath component or a root left out by
# include_roots=False) a directory it only descends into. A distributed
# wave carries this in a ``_walk`` column.
ROW, ROW_DESCEND, DESCEND = 0, 1, 2

_NO_SOURCE = (None,) * (len(FILE_META_SCHEMA.fields) + 1)  # + _dup
_NO_DST = (None,) * 5
_D_DIR = slice(13, 17, 3)  # d_path, d_is_dir of a PAIR_SCHEMA row


class _Walk(NamedTuple):
    """What a walk's tasks need besides their directories."""

    mirror: bool  # pair each entry with the destination's
    skip_unreadable: bool  # the source side drops every listing error
    compare: bool  # read the bytes of tie pairs
    check_mtime: bool  # a tie needs equal mtimes too
    patterns: tuple[str, ...]  # -regexPath chain, one regex per depth


def _utc(ts: float) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(ts, tz=datetime.timezone.utc).replace(
        tzinfo=None
    )


def _stat_to_entry(path: str, rel: str, st: os.stat_result) -> tuple:
    """A file_meta row. ``rel`` is the path below the destination root:
    the reference's makeRelative (DistCPPlus.java:410-430) lands root
    /a/b at dst/b/..., or at dst/... under the special-root rule."""
    is_dir = statmod.S_ISDIR(st.st_mode)
    return (
        path,
        rel,
        0 if is_dir else st.st_size,
        is_dir,
        _utc(st.st_mtime),
        _utc(st.st_atime),
        str(st.st_uid),
        str(st.st_gid),
        statmod.S_IMODE(st.st_mode),
        1,
        4096,
    )


def _scan(d: str, tolerated: type[OSError]) -> list[tuple]:
    """One os.scandir of ``d`` (RPC batching, P3): (name, path, lstat)
    per entry, dropping ``tolerated`` errors."""
    out = []
    try:
        with os.scandir(d) as it:
            for de in it:
                try:
                    out.append((de.name, de.path, de.stat(follow_symlinks=False)))
                except tolerated:
                    continue
    except tolerated:
        pass
    return out


def _pair_dir(item: tuple, walk: _Walk, pinned=()) -> list[tuple]:
    """One relative directory ``item = (rel, source dirs, destination
    dir or None)``: scan each source directory and the destination
    one, pair their entries by name, and return ``(row, use)`` per
    entry (``use``: ROW, ROW_DESCEND or DESCEND). ``pinned`` are
    ``(name, path, lstat, use)`` entries of the roots themselves.

    The source side fails closed, like the reference's ``listStatus``:
    a path that vanished mid-walk is absent, as it would be at listing
    time, but any other error (an unreadable directory) propagates.
    Dropping it would make the subtree look empty, and ``-delete``
    would then delete its mirror. ``walk.skip_unreadable`` drops every
    source error instead. The destination side always drops them: an
    unreadable destination subtree looks empty, which can only mean
    fewer deletes or per-file copy failures that are already counted.

    A mirror row's ``_crc_changed`` says whether the pair is a tie
    whose bytes :func:`_compare` still has to read; this function reads
    no file contents, so the driver can run it.
    """
    rel, src_dirs, dst_dir = item
    src = defaultdict(list)
    for name, path, st, use in pinned:
        src[name].append((path, st, use))
    tolerated = OSError if walk.skip_unreadable else FileNotFoundError
    for d in src_dirs:
        for name, path, st in _scan(d, tolerated):
            src[name].append((path, st, ROW))
    depth = rel.count("/") + 1 if rel else 0
    if depth < len(walk.patterns):
        # -regexPath: the component at this depth must match; above the
        # chain's last depth only directories pass, walked but not rows
        rx = re.compile(walk.patterns[depth])
        last = depth == len(walk.patterns) - 1
        src = {
            name: kept
            for name, es in src.items()
            if rx.fullmatch(name)
            and (
                kept := [
                    (p, st, ROW if last else DESCEND)
                    for p, st, _ in es
                    if last or statmod.S_ISDIR(st.st_mode)
                ]
            )
        }
    dst = {n: (p, st) for n, p, st in _scan(dst_dir, OSError)} if dst_dir else {}

    out = []
    for name in src.keys() | dst.keys():
        child = f"{rel}/{name}" if rel else name
        d_path, d_st = dst.get(name, (None, None))
        d_is_dir = d_st is not None and statmod.S_ISDIR(d_st.st_mode)
        dpart = _NO_DST
        if d_st is not None:
            d_len = 0 if d_is_dir else d_st.st_size
            dpart = (child, d_path, d_len, _utc(d_st.st_mtime), d_is_dir)
        entries = src.get(name)
        if not entries:
            # destination-only: one delete candidate, never entered
            out.append((_NO_SOURCE + dpart + (None,), ROW))
            continue
        files = sum(not statmod.S_ISDIR(st.st_mode) for _, st, _ in entries)
        for path, st, use in entries:
            row = _stat_to_entry(path, child, st)
            is_dir = row[3]
            if use == ROW and (is_dir or d_is_dir):
                use = ROW_DESCEND
            if walk.mirror:
                tie = (
                    walk.compare
                    and not is_dir
                    and d_st is not None
                    and row[2] == dpart[2]
                    and (not walk.check_mtime or row[4] == dpart[3])
                )
                row += (not is_dir and files > 1,) + dpart + (tie,)
            out.append((row, use))
    return out


def _compare(row: tuple) -> tuple:
    """A mirror row with its ``_crc_changed`` set: a tie pair's bytes
    are compared (``copy_plan.contents_differ``); any other row holds
    False there already. Runs in executor tasks only."""
    if not row[-1]:
        return row
    return row[:-1] + (contents_differ(row[0], row[13]) is True,)


def _frontier(marked) -> list[tuple]:
    """The next items from the rows a walk descends from, as
    ``(relative_dst, path, is_dir, d_path, d_is_dir)``: one item per
    relative directory, holding every source directory that maps there
    and the destination directory if there is one."""
    items: dict[str, tuple] = {}
    for rel, path, is_dir, d_path, d_is_dir in marked:
        src_dirs, dst_dir = items.get(rel, ((), None))
        items[rel] = (
            src_dirs + (path,) if is_dir else src_dirs,
            d_path if d_is_dir else dst_dir,
        )
    return [(rel, s, d) for rel, (s, d) in items.items()]


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
    mirror: str | None = None,
    opts: CopyOptions | None = None,
    depth_regexes: list[str] | None = None,
) -> DataFrame:
    """List file trees under ``roots`` into a file_meta DataFrame, or,
    with ``mirror``, into the pairs of a sync diff.

    Relative paths: a root lands at its basename, so root /a/b lists
    b/...; with ``prefix_base=False`` a directory root lands at the
    destination root itself (the special-root rule), while a file
    root keeps its basename. ``include_roots=False`` leaves the roots'
    own rows out.

    BFS frontier expansion over relative directories: while the
    frontier is small the driver scans it directly (no job-launch
    overhead); once it exceeds ``fanout_threshold`` directories, each
    wave is distributed via ``sc.parallelize(frontier).mapPartitions``.
    This keeps tiny trees fast AND huge trees scalable — the
    reference's single-threaded stack walk (DistCPPlus.java:644-749)
    only had the first mode.

    A distributed wave runs ``min(len(frontier), defaultParallelism)``
    tasks: one task round. Wave tasks are Python tasks, and a second
    round costs more than the scandirs it spreads out at small sizes.
    Measured on 4 vCPU (defaultParallelism 4), medians of 7 warm runs:
    an 8-task Python RDD job takes 0.21 s, a 4-task one 0.14 s, an
    8-task JVM job 0.15 s (0.63 s and 0.40 s for the Python jobs
    before the zipimport fix in ``session``). A wide, skewed tree (200
    top dirs with 2000/(i+1) subdirs each, 11,662 dirs in the second
    wave, one top-level slice holding ~3/4 of them, two files per
    subdir, 35,187 rows) took a median 1.16 s in one round per wave
    against 1.30 s in two (3 series of 5 warm runs each).

    ``mirror``: walk the destination root in lockstep, in the same
    tasks, and return one row per pair in the shape
    ``copy_plan.classify`` reads (``PAIR_SCHEMA`` plus ``cost``): each
    source entry with the destination entry of the same relative path,
    or NULL; each destination-only entry with NULL source columns. Under
    -update with checksums on (``opts``), executor tasks read the bytes
    of every tie pair (``copy_plan.contents_differ``): a distributed
    wave's task for its pairs, and for the driver-scanned levels the
    tasks of the first job that reads the result. A missing
    destination root pairs nothing. ``depth_regexes`` (-regexPath)
    prunes the source walk: the component at depth d must fully match
    ``depth_regexes[d]``, directories above the last depth are walked
    but are not rows, and below it everything is selected.

    The returned frame is a snapshot: every scan runs once, inside
    this call, and downstream consumers read the rows as JVM blocks
    (local checkpoints), never re-running the scan through Python
    workers; see the module docstring.

    A source listing error other than a vanished path raises an
    ``OSError`` on the driver, from a distributed wave too, unless
    ``skip_unreadable``; see ``_pair_dir``.
    """
    sc = spark.sparkContext
    opts = opts or CopyOptions()
    walk = _Walk(
        mirror is not None,
        skip_unreadable,
        mirror is not None and compares_contents(opts),
        not opts.skip_ts_check,
        tuple(depth_regexes or ()),
    )
    schema = PAIR_SCHEMA if walk.mirror else FILE_META_SCHEMA
    local_rows: list[tuple] = []
    local_ties: list[tuple] = []

    def scan_here(items, pinned=()):
        # driver-scanned items: rows kept here, tie pairs set aside for
        # executors, next frontier returned
        level = [r for item in items for r in _pair_dir(item, walk, pinned)]
        for r, use in level:
            if use != DESCEND:
                (local_ties if walk.compare and r[-1] else local_rows).append(r)
        return _frontier(
            (r[1], r[0], r[3], *(r[_D_DIR] if walk.mirror else (None, None)))
            for r, use in level
            if use != ROW
        )

    # the root level: flattened directory roots are scanned into it,
    # every other root is an entry of it
    flat, pinned = [], []
    for root in roots:
        root = os.path.abspath(root)
        st = os.stat(root)
        if statmod.S_ISDIR(st.st_mode) and not prefix_base:
            flat.append(root)
            if include_roots:
                row = _stat_to_entry(root, "", st)
                local_rows.append(
                    row + (False,) + _NO_DST + (False,) if walk.mirror else row
                )
        else:
            use = ROW if include_roots else DESCEND
            pinned.append((os.path.basename(root.rstrip("/")), root, st, use))
    dst_dir = mirror if mirror is not None and os.path.isdir(mirror) else None
    frontier = scan_here([("", tuple(flat), dst_dir)], pinned)

    waves: list[DataFrame] = []
    while frontier:
        if len(frontier) <= fanout_threshold:
            frontier = scan_here(frontier)
            continue
        # Distributed wave: rows STAY on executors as JVM blocks; only
        # the rows the walk descends from — orders of magnitude fewer
        # than the file rows — return to the driver to seed the next
        # wave. Collecting the rows here would rebuild the reference's
        # driver-memory bottleneck at exactly the scale this lister
        # exists for. The frontier collect is the job that fills the
        # checkpoint.
        n_parts = min(len(frontier), sc.defaultParallelism)

        # An executor's listing error would reach the driver as a
        # wrapped Python worker exception; it comes back through an
        # accumulator instead and is raised here as the OSError it is.
        errors = sc.accumulator([], _ErrorList())

        def scan_wave(items, _walk=walk, _errors=errors):
            for item in items:
                try:
                    rows = _pair_dir(item, _walk)
                except OSError as e:
                    _errors.add([(e.errno, e.strerror, e.filename)])
                    continue
                for r, use in rows:
                    yield (_compare(r) if _walk.compare else r) + (use,)

        wave = spark.createDataFrame(
            sc.parallelize(frontier, n_parts).mapPartitions(scan_wave),
            T.StructType(schema.fields + [T.StructField("_walk", T.ByteType())]),
        ).localCheckpoint(eager=False)
        d_cols = ["d_path", "d_is_dir"] if walk.mirror else [F.lit(None)] * 2
        marked = (
            wave.filter(F.col("_walk") != ROW)
            .select("relative_dst", "path", "is_dir", *d_cols)
            .collect()
        )
        if errors.value:
            raise OSError(*errors.value[0])
        waves.append(wave.filter(F.col("_walk") != DESCEND).drop("_walk"))
        frontier = _frontier(marked)

    frames = waves
    if local_rows or local_ties or not waves:
        # All driver-scanned rows as ONE lazily checkpointed frame:
        # createDataFrame over an RDD is a Python-evaluated relation,
        # so its first read converts the rows once into JVM blocks and
        # every later read uses those blocks instead of another Python
        # worker round trip. Driver-scanned levels are small by
        # construction (a frontier above fanout_threshold goes
        # distributed), so their rows take one slice. Reading their tie
        # pairs' bytes need not be small: a few directories can hold
        # many large files, so the pairs are spread over up to defaultParallelism - 1 more
        # slices (one task round with the rows' slice), whose tasks
        # read the bytes in that first read.
        rows = sc.parallelize(local_rows, numSlices=1)
        if local_ties:
            n_parts = min(len(local_ties), max(1, sc.defaultParallelism - 1))
            rows = rows.union(sc.parallelize(local_ties, n_parts).map(_compare))
        frames = [
            spark.createDataFrame(rows, schema).localCheckpoint(eager=False)
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
    bytes); the diff is a full-outer join keyed on relative_dst
    (plans/copy_plan.py::sync_diff), tagged by the copy planner's own
    classification, its -update predicate without checksums. For
    repeated nightly diffs over 1e9-file trees, persist both manifests
    bucketed by relative_dst so the join is shuffle-free.
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
