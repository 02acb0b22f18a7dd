"""Copy-plan construction: one diff of the two listings, limits,
duplicate check, cost-balanced bucketing, mirror-delete planning.

The plan has one join. :func:`sync_diff` is the full-outer diff of the
source and destination listings keyed on ``relative_dst``, every row
tagged with its action; the copy set (:func:`plan_updates`), the
mirror deletes (:func:`plan_mirror_delete`), the source-file count and
``sources/lister.relist_diff`` are filters or projections of it. The
engine lazily checkpoints the diff, and
:func:`check_duplicates_and_total` is the one job that materializes
it, checksum reads included.

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


def _sha256_of_paths():
    """Lazily-built pandas UDF: sha256 of file contents, null on read
    error. Null input → null output, so callers can gate which rows
    pay the read by passing ``F.when(cond, path)``."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def sha(paths):
        import hashlib

        out = []
        for p in paths:
            if p is None:
                out.append(None)
                continue
            try:
                h = hashlib.sha256()
                with open(p, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
                out.append(h.hexdigest())
            except OSError:
                out.append(None)
        return pd.Series(out)

    return sha


COPY_ACTIONS = ("mkdir", "copy_new", "copy_checksum", "copy_changed")


def sync_diff(
    src_meta: DataFrame,
    dst_meta: DataFrame,
    opts: CopyOptions,
) -> DataFrame:
    """The plan's one join: a full-outer diff of the source and
    destination listings keyed on ``relative_dst``, every row tagged
    with an ``action`` — the merge of the two sorted listings that the
    reference runs per copy (DistCpUtils.sameFile,
    DistCpUtils.java:239-291) and per mirror delete
    (DistCpUtils.deleteNonexisting, DistCpUtils.java:136-223).

    Actions: ``mkdir`` (source dirs), ``copy_new`` (missing at the
    destination), ``copy_checksum`` / ``copy_changed`` (the change
    predicate holds), ``skip`` (a source file the predicate keeps) and
    ``delete`` (destination-only: a mirror-delete candidate, whose
    source columns are NULL).

    Change predicate, under -update: differ on length, or on mtime
    unless skip_ts_check, or — unless skip_crc_check — on content
    checksum when length+mtime tie. Checksums are a lazy column
    computed distributed, ONLY for tie rows (the reference's sameFile
    fetches FS checksums for exactly those); an unavailable checksum
    counts as equal (DistCpUtils.java:280-290). -overwrite copies
    every source row; a plain copy only what is missing.

    Columns: the source listing's, the destination's ``relative_dst``,
    ``path``, ``length`` and ``is_dir`` as ``d_*``, ``action``, and
    ``_dup``: the row is one of several source files with one
    destination (DistCpUtils.java:84-110). ``_dup`` is a window over
    the source side's join exchange, so it costs no shuffle of its own.
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
        F.col("relative_dst").alias("d_relative_dst"),
        F.col("length").alias("d_length"),
        F.col("mtime").alias("d_mtime"),
        F.col("is_dir").alias("d_is_dir"),
        F.col("path").alias("d_path"),
    ).alias("d")
    joined = s.join(
        d, F.col("s.relative_dst") == F.col("d.d_relative_dst"), "full_outer"
    )
    missing = F.col("d_relative_dst").isNull()
    crc = F.lit(False)
    if opts.overwrite:
        keep = F.lit(True)
    elif opts.update:
        changed = F.col("s.length") != F.col("d_length")
        if not opts.skip_ts_check:
            changed = changed | (F.col("s.mtime") != F.col("d_mtime"))
        if not opts.skip_crc_check:
            # tie rows = would otherwise be skipped; only they get read
            tie = (
                ~F.col("s.is_dir")
                & ~missing
                & (F.col("s.length") == F.col("d_length"))
            )
            if not opts.skip_ts_check:
                tie = tie & (F.col("s.mtime") == F.col("d_mtime"))
            sha = _sha256_of_paths()
            s_sum = sha(F.when(tie, F.col("s.path")))
            d_sum = sha(F.when(tie, F.col("d_path")))
            joined = joined.withColumn(
                "_crc_changed",
                tie
                & s_sum.isNotNull()
                & d_sum.isNotNull()
                & (s_sum != d_sum),
            )
            crc = F.col("_crc_changed")
            changed = changed | crc
        keep = missing | changed
    else:
        # plain copy: only skip files already present (same semantics
        # as the reference's default skip-if-exists-and-same-size,
        # DefaultCopyFilesMapper.java:65-69 with update=false)
        keep = missing
    action = (
        F.when(F.col("s.path").isNull(), F.lit("delete"))
        .when(F.col("s.is_dir"), F.lit("mkdir"))
        .when(missing, F.lit("copy_new"))
        # checksum-detected: metadata ties, so the copier's cheap
        # exec-time re-check must not veto the copy
        .when(crc, F.lit("copy_checksum"))
        .when(keep, F.lit("copy_changed"))
        .otherwise(F.lit("skip"))
    )
    return joined.select(
        "s.*",
        "d_relative_dst",
        "d_path",
        "d_length",
        "d_is_dir",
        action.alias("action"),
    )


def source_rows(diff: DataFrame) -> DataFrame:
    """The diff's source rows (every action but ``delete``)."""
    return diff.filter(F.col("action") != "delete")


def plan_updates(
    src_meta: DataFrame,
    dst_meta: DataFrame,
    opts: CopyOptions,
) -> DataFrame:
    """The copy set: the source rows :func:`sync_diff` tags ``mkdir``,
    ``copy_new``, ``copy_checksum`` or ``copy_changed``, with the
    source listing's columns plus ``action``.

    The reference does a namenode point-lookup per file
    (DistCPPlus.java:685-688) — O(N) RPCs; this is one shuffle join.
    ``src_meta`` may also be source rows that already carry the
    diff's ``action`` (the engine's checkpointed diff); they are then
    only filtered, and ``dst_meta`` is not read again. That second
    input exists for one reason: the engine keeps calling this
    function, with this call shape, because perfbench's tracer hooks
    the call to count the checksum tie pairs
    (``copy_plan.checksum_pairs``, ``perfbench/spans.py``). Once the
    benchmark reads that count elsewhere, the engine can filter its
    diff with ``COPY_ACTIONS`` directly and this function goes back to
    building :func:`sync_diff` only.
    """
    if "action" not in src_meta.columns:
        src_meta = sync_diff(src_meta, dst_meta, opts)
    return src_meta.filter(F.col("action").isin(*COPY_ACTIONS)).drop(
        "_dup", "d_relative_dst", "d_path", "d_length", "d_is_dir"
    )


def _distributed_prefix_sums(
    df: DataFrame, specs: list[tuple[str, str, str]]
) -> DataFrame:
    """Running aggregates in global ``path`` order, computed
    distributed: range-partition the manifest by path (so physical
    partition ids are monotone in path order), then run the two-phase
    parallel prefix sum from operators/scale.py with
    ``spark_partition_id()`` as the carry bucket. Replaces an
    unpartitioned ``Window.orderBy("path")``, which would funnel every
    row of a 100 M-row manifest through ONE task. ``specs`` are
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
    diff: DataFrame, sources: DataFrame | None = None
) -> tuple[int, int]:
    """The one job that materializes the lazily checkpointed
    :func:`sync_diff`: the duplicate-destination check
    (DistCpUtils.java:84-110), the number of source files and the
    plan's total copy cost, as one aggregate. Returns ``(source files,
    total cost)``; the total feeds :func:`assign_cost_buckets`, the
    file count the RECORDSKIPPED counter.

    Any source file flagged ``_dup`` raises :class:`DuplicationError`,
    a NULL destination included. The check runs in the same job that
    reads the tie rows' checksums, and a checksum read error there
    becomes NULL (counted as equal), never a job failure, so
    duplicate destinations still surface as ``DuplicationError``.

    ``sources`` are the diff's source rows after -filelimit /
    -sizelimit (default: all of them, :func:`source_rows`). The file
    count and the cost come from them, while the duplicate check still
    sees the whole listing (DistCPPlus.java:732-733).
    """
    if sources is None:
        sources = source_rows(diff)
    dup = F.coalesce(F.col("_dup"), F.lit(False))
    rows = diff.select(
        dup.cast("long").alias("_d"),
        F.when(dup, F.col("relative_dst")).alias("_k"),
    ).unionByName(
        sources.select(
            (~F.col("is_dir")).cast("long").alias("_f"),
            F.when(F.col("action").isin(*COPY_ACTIONS), F.col("cost")).alias(
                "_c"
            ),
        ),
        allowMissingColumns=True,
    )
    stats = rows.agg(
        F.sum("_d").alias("dups"),
        F.min("_k").alias("first"),
        F.max("_k").alias("last"),
        F.sum("_f").alias("files"),
        F.sum("_c").alias("total"),
    ).collect()[0]
    if stats["dups"]:
        names = ", ".join(sorted({str(stats["first"]), str(stats["last"])}))
        raise DuplicationError(
            f"{stats['dups']} source files share a destination: {names}"
        )
    return int(stats["files"] or 0), int(stats["total"] or 0)


def assign_cost_buckets(
    plan: DataFrame, bytes_per_task: int, max_tasks: int | None = None,
    total: int | None = None,
) -> DataFrame:
    """Size-balanced partitioning (CopyInputFormat.java:33-79 +
    setMapCount, DistCPPlus.java:442-451): bucket rows by cumulative
    byte cost so every task copies ~the same bytes, not ~the same
    file count. repartitionByRange alone would balance rows and a
    partition that drew the 10 GB files would straggle.

    The cumulative cost is a distributed two-phase prefix sum
    (_distributed_prefix_sums), not a global ordered window — at a
    100 M-row manifest the window would serialize on one task.

    Returns the plan with a ``bucket`` column, laid out by
    :func:`layout_tasks`: bucket b is task b. n = clamp(total /
    bytes_per_task, 1, max_tasks). ``total`` skips the sum job when
    the caller already computed it (check_duplicates_and_total).
    """
    if total is None:
        total = plan.agg(F.sum("cost")).collect()[0][0] or 0
    n = max(1, int(total // bytes_per_task) + (1 if total % bytes_per_task else 0))
    if max_tasks:
        n = min(n, max_tasks)
    if n == 1:
        # one task holds the whole plan: no prefix sum to place it
        return layout_tasks(plan.withColumn("bucket", F.lit(0)), 1)
    target = max(1, (total + n - 1) // n)
    cum = _distributed_prefix_sums(plan, [("cost", "_cum", "sum")])
    bucketed = cum.withColumn(
        "bucket",
        F.floor((F.col("_cum") - F.col("cost")) / F.lit(target)).cast("int"),
    ).drop("_cum")
    return layout_tasks(bucketed, n)


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
    ``relative_dst``, ``is_dir`` and ``length``. Ancestor suppression:
    a doomed path is dropped when its parent directory is doomed too
    (isAncestorPath, DistCpUtils.java:113-119), so a removed tree is
    deleted once, never entered again.

    Ancestor suppression is itself relational: a doomed path is
    suppressed iff its parent dir is also doomed. One self-join of the
    doomed rows on the parent path replaces the reference's ordered
    scan.
    """
    doomed = diff.filter(F.col("action") == "delete").select(
        F.col("d_path").alias("path"),
        F.col("d_relative_dst").alias("relative_dst"),
        F.col("d_is_dir").alias("is_dir"),
        F.col("d_length").alias("length"),
    )
    parent = F.when(
        F.instr(F.col("relative_dst"), "/") > 0,
        F.expr("substring(relative_dst, 1, length(relative_dst) - length(element_at(split(relative_dst, '/'), -1)) - 1)"),
    )
    with_parent = doomed.withColumn("_parent", parent)
    doomed_dirs = doomed.filter(F.col("is_dir")).select(
        F.col("relative_dst").alias("_parent")
    )
    return (
        with_parent.join(doomed_dirs, "_parent", "left_anti")
        .drop("_parent")
    )
