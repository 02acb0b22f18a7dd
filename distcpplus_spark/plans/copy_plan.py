"""Copy-plan construction: pairing, one classification, limits,
duplicate check, cost-balanced bucketing, mirror-delete planning.

A diff is a set of pairs, each tagged with its action. A sync pairs
the source and destination trees while listing them
(``sources/lister.list_tree(..., mirror=dst_root)``, which also
compares the bytes of tie pairs in executor tasks); a manifest diff
(``sources/lister.relist_diff``) pairs two listings with
:func:`pair_listings`, a full outer join. Both are tagged by the one
:func:`classify`. The copy set (:func:`plan_updates`), the mirror
deletes (:func:`plan_mirror_delete`) and the source-file count are
filters or projections of the diff, and
:func:`check_duplicates_and_total` is the one job that reads it.

All plan stages are lazy DataFrame transformations — the plan IS a
Catalyst logical plan, inspectable via .explain() (the Spark-native
version of the reference's dry-run hooks, DistCPPlus.java:151-158,
374-383).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class DuplicationError(Exception):
    """Two sources map to one destination (DuplicationException.java:7-13;
    reference exit code -2)."""


@dataclass
class CopyOptions:
    """Flag algebra of the reference (Options.java:5-15,
    Arguments.java:247-268): validated at construction, not mid-job."""

    update: bool = False
    overwrite: bool = False
    delete: bool = False
    ignore_failures: bool = False
    skip_ts_check: bool = False
    skip_crc_check: bool = False
    preserve: frozenset[str] = field(default_factory=frozenset)  # ugpt(a)
    file_limit: int | None = None
    size_limit: int | None = None
    max_tasks: int | None = None
    bytes_per_task: int = 256 * 1024 * 1024  # BYTES_PER_MAP, DistCPPlus.java:101
    # split files larger than this into parallel byte-range chunks
    # (None = single-shot copy per file, the reference's behavior)
    chunk_bytes: int | None = None
    # -log <logdir> (DistCPPlus.java:555-575): SKIP/FAIL records are
    # written there as JSON after the copy. None = no log sink (the
    # result DataFrame is the richer artifact; the reference always
    # writes a _distcp_logs_<id> dir because MR needs an output path).
    log_dir: str | None = None

    def __post_init__(self) -> None:
        if self.update and self.overwrite:
            raise ValueError("-update and -overwrite are mutually exclusive")
        if self.delete and not (self.update or self.overwrite):
            raise ValueError("-delete requires -update or -overwrite")
        if (self.skip_ts_check or self.skip_crc_check) and not self.update:
            raise ValueError("-skiptscheck/-skipcrccheck only apply with -update")


def apply_limits(
    src_meta: DataFrame, file_limit: int | None, size_limit: int | None
) -> DataFrame:
    """-filelimit / -sizelimit with the reference's exact semantics
    (DistCPPlus.java:663-705): directories ALWAYS traverse and are
    never counted; -filelimit admits the first N files in traversal
    order (path order here); -sizelimit is a GREEDY byte budget — a
    file that would overflow is skipped, but later smaller files that
    still fit are admitted (`byteCount + len > sizelimit` where
    byteCount only grows on admission). A size-skipped file does not
    consume the file limit either (both counters advance only on
    admission, DistCPPlus.java:702-704).

    Scale note: -filelimit alone is a files-only running count — it
    runs as the two-phase distributed prefix sum (operators/scale.py::
    partitioned_running_agg) over a range-partitioned manifest, NOT a
    partition-less global window that would funnel a 100 M-row manifest
    through one task. The greedy size budget is order-dependent, but
    NOT wholly sequential: until the first skip, the greedy byteCount
    equals the plain running sum, so the maximal prefix whose running
    sums respect BOTH budgets is provably admitted wholesale — that
    split (and the leftover-budget pruning of the tail) is computed
    distributed, and only the boundary residual runs the ordered
    sequential pass (see _greedy_sizelimit_split). Only applied when a
    limit is set; unlimited plans never pay for it.
    """
    if file_limit is None and size_limit is None:
        return src_meta

    if size_limit is None:
        # files-only running count; dirs pass through uncounted
        ranked = _distributed_prefix_sums(
            src_meta.withColumn(
                "_fc", F.when(F.col("is_dir"), F.lit(0)).otherwise(F.lit(1))
            ),
            [("_fc", "_frank", "sum")],
        )
        return (
            ranked.filter(F.col("is_dir") | (F.col("_frank") <= file_limit))
            .drop("_fc", "_frank")
        )

    # greedy budget (DistCPPlus.java:676-678): distributed prefix +
    # sequential residual
    prefix, residual, carry_files, carry_bytes = _greedy_sizelimit_split(
        src_meta, file_limit, size_limit
    )
    dirs = src_meta.filter(F.col("is_dir"))
    if residual is None:
        return dirs.unionByName(prefix)

    schema = src_meta.schema
    fl = file_limit

    def admit(rows):
        file_count = carry_files
        byte_count = carry_bytes
        for row in rows:
            if fl is not None and file_count == fl:
                return
            if byte_count + row["length"] > size_limit:
                continue
            file_count += 1
            byte_count += row["length"]
            yield row

    tail = (
        residual.coalesce(1).sortWithinPartitions("path").rdd.mapPartitions(admit)
    )
    tail_df = src_meta.sparkSession.createDataFrame(tail, schema)
    return dirs.unionByName(prefix).unionByName(tail_df)


def _greedy_sizelimit_split(
    src_meta: DataFrame, file_limit: int | None, size_limit: int
) -> tuple[DataFrame, DataFrame | None, int, int]:
    """Split the listing for greedy -sizelimit admission into a
    provably-admitted prefix (distributed) and the residual that truly
    needs the ordered sequential scan.

    Invariant: the greedy loop's byteCount equals the plain running
    byte sum S_i until the first skip, and its fileCount equals the
    running file rank — so every file in the maximal prefix with
    S_i <= size_limit (and rank <= file_limit) is admitted exactly as
    a wholesale cut, no simulation needed. Both running values are
    monotone, so the condition IS a prefix. After the cut, byteCount
    is frozen at the prefix sum S_p and only grows, so residual files
    with length > size_limit - S_p can never be admitted and are
    pruned distributed; if the prefix already holds file_limit files,
    every later file is skipped (the reference's counter never
    decrements) and there is no residual at all.

    Returns ``(prefix_files, residual_or_None, carry_files,
    carry_bytes)`` — carries are the sequential pass's starting
    counters. Directories are the caller's concern (they always pass).

    At a billion-row listing the old formulation funneled EVERY row
    through one task; here the one sequential task sees only files
    after the byte boundary that still fit the leftover budget —
    bounded by rem/min(length) admissions plus the skipped smalls, a
    boundary region, not the listing.
    """
    aux = src_meta.withColumn(
        "_fc", F.when(F.col("is_dir"), F.lit(0)).otherwise(F.lit(1))
    ).withColumn(
        "_len",
        F.when(F.col("is_dir"), F.lit(0)).otherwise(F.col("length")),
    )
    ranked = _distributed_prefix_sums(
        aux, [("_fc", "_frank", "sum"), ("_len", "_crun", "sum")]
    )
    in_prefix = ~F.col("is_dir") & (F.col("_crun") <= size_limit)
    if file_limit is not None:
        in_prefix = in_prefix & (F.col("_frank") <= file_limit)
    prefix_files = ranked.filter(in_prefix)
    stats = prefix_files.agg(
        F.max("_crun").alias("sp"), F.max("_frank").alias("pf")
    ).collect()[0]
    carry_bytes = int(stats["sp"] or 0)
    carry_files = int(stats["pf"] or 0)
    drop = ["_fc", "_len", "_frank", "_crun"]
    prefix_clean = prefix_files.drop(*drop)
    if file_limit is not None and carry_files >= file_limit:
        # file budget exhausted inside the prefix: the greedy counter
        # never decrements, so no later file can be admitted
        return prefix_clean, None, carry_files, carry_bytes
    rem = size_limit - carry_bytes
    residual = (
        ranked.filter(~F.col("is_dir") & ~in_prefix)
        .filter(F.col("length") <= rem)
        .drop(*drop)
    )
    return prefix_clean, residual, carry_files, carry_bytes


def contents_differ(a: str, b: str) -> bool | None:
    """Whether two files' bytes differ: both are streamed side by side
    and the read stops at the first differing chunk. None on a read
    error, which the -update predicate counts as equal, as the
    reference does with an unavailable checksum
    (DistCpUtils.java:280-290). The one content comparison of the
    package: the mirror walk calls it in executor tasks, and
    :func:`pair_listings` wraps it in a UDF."""
    try:
        with open(a, "rb") as fa, open(b, "rb") as fb:
            while True:
                x = fa.read(1 << 20)
                if x != fb.read(1 << 20):
                    return True
                if not x:
                    return False
    except OSError:
        return None


def compares_contents(opts: CopyOptions) -> bool:
    """-update reads the bytes of tie pairs unless -skipcrccheck."""
    return opts.update and not opts.skip_crc_check


COPY_ACTIONS = (
    "mkdir", "copy_new", "copy_checksum", "copy_changed", "copy_overwrite"
)

# The destination side of a pair, as a diff carries it.
DST_COLUMNS = ("d_relative_dst", "d_path", "d_length", "d_mtime", "d_is_dir")


def pair_listings(
    src_meta: DataFrame,
    dst_meta: DataFrame,
    opts: CopyOptions,
) -> DataFrame:
    """Pair two listings by ``relative_dst`` in a full outer join, in
    the column shape :func:`classify` reads: the source listing's
    columns, ``_dup``, the destination's ``relative_dst``, ``path``,
    ``length``, ``mtime`` and ``is_dir`` as ``d_*``, and
    ``_crc_changed``. A destination-only row has NULL source columns.

    This is the pairing for manifest diffs
    (``sources/lister.relist_diff``); a sync pairs its trees while
    listing them (``list_tree(..., mirror=dst_root)``), which yields
    the same shape without a join.

    ``_dup``: the row is one of several source files with one
    destination (DistCpUtils.java:84-110), a window over the source
    side's join exchange, so it costs no shuffle of its own.
    ``_crc_changed``: under -update with checksums on, a tie pair
    (both lengths equal, and both mtimes unless -skiptscheck) whose
    bytes differ, by :func:`contents_differ` in a Python UDF.
    """
    s = src_meta.withColumn(
        "_dup",
        ~F.col("is_dir")
        & (
            F.sum(F.when(~F.col("is_dir"), 1).otherwise(0)).over(
                Window.partitionBy("relative_dst")
            )
            > 1
        ),
    ).alias("s")
    d = dst_meta.select(
        *(F.col(c[2:]).alias(c) for c in DST_COLUMNS)
    ).alias("d")
    joined = s.join(
        d, F.col("s.relative_dst") == F.col("d.d_relative_dst"), "full_outer"
    )
    crc = F.lit(False)
    if compares_contents(opts):
        tie = (
            ~F.col("s.is_dir")
            & F.col("d_relative_dst").isNotNull()
            & (F.col("s.length") == F.col("d_length"))
        )
        if not opts.skip_ts_check:
            tie = tie & (F.col("s.mtime") == F.col("d_mtime"))
        # Spark may call a UDF on every row of a batch: only tie rows
        # get paths, so only they pay the read
        differ = F.udf(
            lambda a, b: a is not None and contents_differ(a, b), "boolean"
        )
        crc = F.coalesce(
            differ(F.when(tie, F.col("s.path")), F.col("d_path")), F.lit(False)
        )
    return joined.select("s.*", *DST_COLUMNS, crc.alias("_crc_changed"))


def classify(pairs: DataFrame, opts: CopyOptions) -> DataFrame:
    """Tag every pair with its ``action``: the change predicate the
    reference runs per copied file (DistCpUtils.sameFile,
    DistCpUtils.java:239-291) and per mirror delete
    (DistCpUtils.deleteNonexisting, DistCpUtils.java:136-223).

    Actions: ``mkdir`` (source dirs), ``copy_new`` (missing at the
    destination), ``copy_checksum`` / ``copy_changed`` (the change
    predicate holds), ``copy_overwrite`` (present at the destination,
    under -overwrite), ``skip`` (a source file the predicate keeps) and
    ``delete`` (destination-only: a mirror-delete candidate, whose
    source columns are NULL).

    Change predicate, under -update: differ on length, or on mtime
    unless skip_ts_check, or on content (``_crc_changed``, set by the
    pairing for tie pairs only). -overwrite copies every source row; a
    plain copy only what is missing.

    ``pairs`` come from a mirror walk or from :func:`pair_listings`;
    the result keeps their columns but ``_crc_changed``, plus
    ``action``.
    """
    missing = F.col("d_relative_dst").isNull()
    crc = F.coalesce(F.col("_crc_changed"), F.lit(False))
    if opts.overwrite:
        keep = F.lit(True)
    elif opts.update:
        changed = F.col("length") != F.col("d_length")
        if not opts.skip_ts_check:
            changed = changed | (F.col("mtime") != F.col("d_mtime"))
        keep = missing | changed
    else:
        # plain copy: only skip files already present (same semantics
        # as the reference's default skip-if-exists-and-same-size,
        # DefaultCopyFilesMapper.java:65-69 with update=false)
        keep = missing
    action = (
        F.when(F.col("path").isNull(), F.lit("delete"))
        .when(F.col("is_dir"), F.lit("mkdir"))
        .when(missing, F.lit("copy_new"))
        # checksum-detected: metadata ties, so the copier's cheap
        # exec-time re-check must not veto the copy; nor -overwrite's,
        # which copies whatever the destination holds
        .when(crc, F.lit("copy_checksum"))
        .when(keep, F.lit("copy_overwrite" if opts.overwrite else "copy_changed"))
        .otherwise(F.lit("skip"))
    )
    return pairs.withColumn("action", action).drop("_crc_changed")


def sync_diff(
    src_meta: DataFrame,
    dst_meta: DataFrame,
    opts: CopyOptions,
) -> DataFrame:
    """The diff of two listings: :func:`classify` over
    :func:`pair_listings`."""
    return classify(pair_listings(src_meta, dst_meta, opts), opts)


def source_rows(diff: DataFrame) -> DataFrame:
    """The diff's source rows (every action but ``delete``)."""
    return diff.filter(F.col("action") != "delete")


def destination_rows(diff: DataFrame) -> DataFrame:
    """The destination side of a diff's pairs as a listing:
    ``relative_dst``, ``path``, ``length``, ``mtime`` and ``is_dir``."""
    return diff.filter(F.col("d_relative_dst").isNotNull()).select(
        *(F.col(c).alias(c[2:]) for c in DST_COLUMNS)
    )


def plan_updates(
    src_meta: DataFrame,
    dst_meta: DataFrame,
    opts: CopyOptions,
) -> DataFrame:
    """The copy set: the source rows :func:`classify` tags with one of
    ``COPY_ACTIONS``, with the source listing's columns plus ``action``.

    The reference does a namenode point-lookup per file
    (DistCPPlus.java:685-688) — O(N) RPCs; a sync pairs each file with
    its destination while listing. ``src_meta`` may be source rows
    that already carry the diff's ``action`` (the engine's diff); they
    are then only filtered, and ``dst_meta`` is not read. The engine
    still passes the destination side of its pairs
    (:func:`destination_rows`) because perfbench's tracer hooks this
    call to count the checksum tie pairs (``copy_plan.checksum_pairs``,
    ``perfbench/spans.py``). Once the benchmark reads that count
    elsewhere, the engine can filter its diff with ``COPY_ACTIONS``
    directly and this function goes back to building
    :func:`sync_diff` only.
    """
    if "action" not in src_meta.columns:
        src_meta = sync_diff(src_meta, dst_meta, opts)
    return src_meta.filter(F.col("action").isin(*COPY_ACTIONS)).drop(
        "_dup", *DST_COLUMNS
    )


def _distributed_prefix_sums(
    df: DataFrame, specs: list[tuple[str, str, str]]
) -> DataFrame:
    """Running aggregates in global ``path`` order, the traversal
    order of :func:`apply_limits`' -filelimit / -sizelimit, computed
    distributed: range-partition the listing by path (so partition ids
    are monotone in path order), then run the two-phase prefix sum from
    operators/scale.py with ``spark_partition_id()`` as the carry
    bucket. Replaces an unpartitioned ``Window.orderBy("path")``, which
    would funnel a 100 M-row listing through ONE task. ``specs`` are
    ``(value_col, out_col, 'sum'|'max')``; N of them cost what one
    does (one local window, one totals job, one broadcast join).

    repartitionByRange's range boundaries come from reservoir sampling
    re-drawn per execution, so ``spark_partition_id()`` is NOT stable
    across the two jobs inside partitioned_running_aggs —
    ``deterministic_bucket=False`` makes it materialize the stamped
    frame once so both jobs see identical buckets.
    """
    from ..operators.scale import partitioned_running_aggs

    n_parts = max(2, df.sparkSession.sparkContext.defaultParallelism)
    ranged = df.repartitionByRange(n_parts, "path")
    return partitioned_running_aggs(
        ranged, ["path"], specs, F.spark_partition_id(),
        deterministic_bucket=False,
    )


def check_duplicates_and_total(
    diff: DataFrame, sources: DataFrame | None = None, chunk_bytes: int | None = None
) -> tuple[int, dict[int, tuple[int, int]]]:
    """The one job that reads the diff: the duplicate-destination check
    (DistCpUtils.java:84-110), the number of source files, and each
    partition's copy cost and number of positive-cost copy rows, as one
    rolled-up aggregate. Returns ``(source files, {partition id:
    (cost, copy rows)})``; the partition totals feed
    :func:`assign_cost_buckets`, the file count the RECORDSKIPPED
    counter. It compares no file itself. As the first job to read a
    sync's walk, its tasks compare the tie pairs of the levels the
    driver scanned (``list_tree``); a wave's pairs were compared in the
    wave.

    Any source file flagged ``_dup`` raises :class:`DuplicationError`,
    a NULL destination included.

    ``sources`` are the diff's source rows after -filelimit /
    -sizelimit (default: all of them, :func:`source_rows`). The file
    count and the costs come from them, while the duplicate check still
    sees the whole listing (DistCPPlus.java:732-733). With
    ``chunk_bytes`` a copied file counts as the byte ranges it splits
    into; its cost, their sum, is the same.
    """
    if sources is None:
        sources = source_rows(diff)
    dup = F.coalesce(F.col("_dup"), F.lit(False))
    copied = F.col("action").isin(*COPY_ACTIONS)
    copy_rows = (copied & (F.col("cost") > 0)).cast("long")
    if chunk_bytes:
        copy_rows = copy_rows * F.ceil(F.col("length") / F.lit(chunk_bytes))
    rows = diff.select(
        dup.cast("long").alias("_d"),
        F.when(dup, F.col("relative_dst")).alias("_k"),
    ).unionByName(
        sources.select(
            F.spark_partition_id().alias("_p"),
            (~F.col("is_dir")).cast("long").alias("_f"),
            F.when(copied, F.col("cost")).alias("_c"),
            copy_rows.alias("_n"),
        ),
        allowMissingColumns=True,
    )
    groups = rows.rollup("_p").agg(
        F.grouping("_p").alias("all"),
        F.sum("_d").alias("dups"),
        F.min("_k").alias("first"),
        F.max("_k").alias("last"),
        F.sum("_f").alias("files"),
        F.sum("_c").alias("cost"),
        F.sum("_n").alias("copies"),
    ).collect()
    stats = next(g for g in groups if g["all"])
    if stats["dups"]:
        names = ", ".join(sorted({str(stats["first"]), str(stats["last"])}))
        raise DuplicationError(
            f"{stats['dups']} source files share a destination: {names}"
        )
    costs = {
        g["_p"]: (int(g["cost"] or 0), int(g["copies"] or 0))
        for g in groups
        if g["_p"] is not None
    }
    return int(stats["files"] or 0), costs


def partition_costs(plan: DataFrame) -> dict[int, tuple[int, int]]:
    """{partition id: (cost, positive-cost rows)} of a plan, in one job:
    the ``costs`` of :func:`assign_cost_buckets` for a plan that no
    earlier job aggregated. An empty plan has no partitions."""
    return {
        p: (int(c or 0), n)
        for p, c, n in plan.groupBy(F.spark_partition_id())
        .agg(F.sum("cost"), F.count(F.when(F.col("cost") > 0, 1)))
        .collect()
    }


def assign_cost_buckets(
    plan: DataFrame, bytes_per_task: int, max_tasks: int | None = None,
    costs: dict[int, tuple[int, int]] | None = None,
) -> DataFrame:
    """Size-balanced partitioning (CopyInputFormat.java:33-79 +
    setMapCount, DistCPPlus.java:442-451): bucket rows by cumulative
    byte cost so every task copies ~the same bytes, not ~the same
    file count. repartitionByRange alone would balance rows and a
    partition that drew the 10 GB files would straggle.

    Rows are placed in the plan's own order, as the reference's
    getSplits cuts its manifest in written order: by partition, then by
    path (and byte offset) in a window per partition. A row starts at
    the cost of the partitions before its own plus the cost before it
    there; bucket b holds the rows that start in [b·target,
    (b+1)·target). ``costs`` (:func:`partition_costs`, or the plan's
    own job, :func:`check_duplicates_and_total`) saves a job.

    Returns the plan with a ``bucket`` column, laid out by
    :func:`layout_tasks`: bucket b is task b. n = clamp(total /
    bytes_per_task, 1, min(positive-cost rows, max_tasks)): a task per
    byte budget, but never more tasks than rows that carry bytes. A
    chunked plan's rows (``offset``) also get ``first_bucket``, the
    bucket of their file's first range, where the copier publishes
    the file.
    """
    if costs is None:
        costs = partition_costs(plan)
    chunked = "offset" in plan.columns
    total = sum(c for c, _ in costs.values())
    n = -(-total // bytes_per_task)
    n = min(n, sum(r for _, r in costs.values()), max_tasks or n)
    n = max(1, n)
    if n == 1:
        # one task holds the whole plan: no running cost to place it
        bucketed = plan.withColumn("bucket", F.lit(0))
        if chunked:
            bucketed = bucketed.withColumn("first_bucket", F.lit(0))
        return layout_tasks(bucketed, 1)
    target = max(1, (total + n - 1) // n)
    offsets, offset = [], 0
    for p in sorted(costs):
        offsets += [F.lit(p), F.lit(offset)]
        offset += costs[p][0]
    w = Window.partitionBy("_p").orderBy("path", *(["offset"] if chunked else []))
    before = F.sum("cost").over(w.rowsBetween(Window.unboundedPreceding, 0))
    start = F.create_map(*offsets)[F.col("_p")] + before - F.col("cost")

    def bucket_of(start):
        return F.least(F.floor(start / F.lit(target)), F.lit(n - 1)).cast("int")

    # zero-cost rows after the last byte (dirs, empty files) start at
    # the total, one bucket past the end: they join the last bucket
    bucketed = plan.withColumn("_p", F.spark_partition_id()).withColumn(
        "bucket", bucket_of(start)
    )
    if chunked:
        # a file's ranges are consecutive in the window's order
        bucketed = bucketed.withColumn(
            "first_bucket", bucket_of(start - F.col("offset"))
        )
    return layout_tasks(bucketed.drop("_p"), n)


def layout_tasks(plan: DataFrame, n: int) -> DataFrame:
    """The one place copy-task placement is decided: bucket b runs as
    task b of n (a JVM exchange that AQE does not coalesce; hashing
    the ids 0..n-1 would put balanced buckets in one task and leave
    others idle). Within a task, mkdir rows run before file rows, and
    paths sort parent < child."""
    return plan.repartitionById(n, "bucket").sortWithinPartitions(
        F.col("is_dir").desc(), "path"
    )


def plan_mirror_delete(diff: DataFrame) -> DataFrame:
    """-delete (DistCpUtils.java:136-223): the diff's ``delete`` rows,
    the destination paths no source row maps to, as ``path``,
    ``relative_dst``, ``is_dir`` and ``length``. A filter, no job of
    its own.

    Ancestor suppression (isAncestorPath, DistCpUtils.java:113-119)
    comes from the mirror walk: it descends into source directories
    only, so a removed tree is one ``delete`` row for its top, and
    nothing below it is listed or deleted again. A diff from
    :func:`pair_listings` lists destination-only trees in full, so its
    delete rows are not suppressed this way.
    """
    return diff.filter(F.col("action") == "delete").select(
        F.col("d_path").alias("path"),
        F.col("d_relative_dst").alias("relative_dst"),
        F.col("d_is_dir").alias("is_dir"),
        F.col("d_length").alias("length"),
    )
