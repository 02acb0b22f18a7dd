"""Copy-plan construction: update anti-join, limits, duplicate check,
cost-balanced bucketing, mirror-delete planning.

All plan stages are lazy DataFrame transformations — the plan IS a
Catalyst logical plan, inspectable via .explain() (the Spark-native
version of the reference's dry-run hooks, DistCPPlus.java:151-158,
374-383).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
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
        ranked = _distributed_prefix_sum(
            src_meta.withColumn(
                "_fc", F.when(F.col("is_dir"), F.lit(0)).otherwise(F.lit(1))
            ),
            value_col="_fc",
            out_col="_frank",
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


def plan_updates(
    src_meta: DataFrame,
    dst_meta: DataFrame,
    opts: CopyOptions,
) -> DataFrame:
    """The -update / -overwrite plan: decide per source row whether to
    copy, via a distributed left join + change predicate
    (DistCpUtils.sameFile, DistCpUtils.java:239-291).

    The reference does a namenode point-lookup per file
    (DistCPPlus.java:685-688) — O(N) RPCs; this is one shuffle join.
    Change predicate: differ on length, or on mtime unless
    skip_ts_check, or — unless skip_crc_check — on content checksum
    when length+mtime tie. Checksums are a lazy column computed
    distributed, ONLY for tie rows (the reference's sameFile fetches
    FS checksums for exactly those); an unavailable checksum counts as
    equal (DistCpUtils.java:280-290).
    """
    s = src_meta.alias("s")
    d = dst_meta.select(
        F.col("relative_dst").alias("d_relative_dst"),
        F.col("length").alias("d_length"),
        F.col("mtime").alias("d_mtime"),
        F.col("is_dir").alias("d_is_dir"),
        F.col("path").alias("d_path"),
    ).alias("d")
    joined = s.join(
        d, F.col("s.relative_dst") == F.col("d.d_relative_dst"), "left"
    )
    missing = F.col("d.d_relative_dst").isNull()
    if opts.overwrite:
        keep = F.lit(True)
    elif opts.update:
        changed = F.col("s.length") != F.col("d.d_length")
        if not opts.skip_ts_check:
            changed = changed | (F.col("s.mtime") != F.col("d.d_mtime"))
        if not opts.skip_crc_check:
            # tie rows = would otherwise be skipped; only they get read
            tie = (
                ~F.col("s.is_dir")
                & ~missing
                & (F.col("s.length") == F.col("d.d_length"))
            )
            if not opts.skip_ts_check:
                tie = tie & (F.col("s.mtime") == F.col("d.d_mtime"))
            sha = _sha256_of_paths()
            s_sum = sha(F.when(tie, F.col("s.path")))
            d_sum = sha(F.when(tie, F.col("d.d_path")))
            joined = joined.withColumn(
                "_crc_changed",
                tie
                & s_sum.isNotNull()
                & d_sum.isNotNull()
                & (s_sum != d_sum),
            )
            changed = changed | F.col("_crc_changed")
        keep = missing | changed
    else:
        # plain copy: only skip files already present (same semantics
        # as the reference's default skip-if-exists-and-same-size,
        # DefaultCopyFilesMapper.java:65-69 with update=false)
        keep = missing
    crc_col = (
        F.col("_crc_changed")
        if "_crc_changed" in joined.columns
        else F.lit(False)
    )
    return (
        joined.withColumn(
            "action",
            F.when(F.col("s.is_dir"), F.lit("mkdir"))
            .when(missing, F.lit("copy_new"))
            # checksum-detected: metadata ties, so the copier's cheap
            # exec-time re-check must not veto the copy
            .when(crc_col, F.lit("copy_checksum"))
            .otherwise(F.lit("copy_changed")),
        )
        .filter(F.col("s.is_dir") | keep)
        .select("s.*", "action")
    )


def _distributed_prefix_sum(
    df: DataFrame, value_col: str, out_col: str
) -> DataFrame:
    """Running sum of ``value_col`` in global ``path`` order, computed
    distributed: range-partition the manifest by path (so physical
    partition ids are monotone in path order), then run the two-phase
    parallel prefix sum from operators/scale.py with
    ``spark_partition_id()`` as the carry bucket. Replaces an
    unpartitioned ``Window.orderBy("path")``, which would funnel every
    row of a 100 M-row manifest through ONE task.

    repartitionByRange's range boundaries come from reservoir sampling
    re-drawn per execution, so ``spark_partition_id()`` is NOT stable
    across the two jobs inside partitioned_running_agg —
    ``deterministic_bucket=False`` makes it materialize the stamped
    frame once so both jobs see identical buckets.
    """
    from ..operators.scale import partitioned_running_agg

    n_parts = max(2, df.sparkSession.sparkContext.defaultParallelism)
    ranged = df.repartitionByRange(n_parts, "path")
    return partitioned_running_agg(
        ranged, ["path"], value_col, out_col, F.spark_partition_id(),
        deterministic_bucket=False,
    )


def _distributed_prefix_sums(
    df: DataFrame, specs: list[tuple[str, str, str]]
) -> DataFrame:
    """Multi-spec variant of :func:`_distributed_prefix_sum`: N running
    aggregates in global ``path`` order for the cost of one (one local
    window, one totals job, one broadcast join)."""
    from ..operators.scale import partitioned_running_aggs

    n_parts = max(2, df.sparkSession.sparkContext.defaultParallelism)
    ranged = df.repartitionByRange(n_parts, "path")
    return partitioned_running_aggs(
        ranged, ["path"], specs, F.spark_partition_id(),
        deterministic_bucket=False,
    )


def check_duplicates_and_total(
    src_meta: DataFrame, plan: DataFrame
) -> int:
    """The duplicate-destination check (DistCpUtils.java:84-110) AND
    the plan's total copy cost in ONE Spark job.

    Duplicates: the reference external-sorts the listing and compares
    neighbors; relationally it is GROUP BY relative_dst HAVING
    count > 1 over the source files. Any such group raises
    :class:`DuplicationError`.

    Total: ``sum(plan.cost)`` (0 when empty), returned for
    :func:`assign_cost_buckets`'s ``total``.

    The two subtrees union into a single action (guide §2.6 — overlap
    independent work), each row tagged with the side it came from, so
    a duplicate group whose key is NULL is still a duplicate. Because
    callers lazily checkpoint ``plan`` first, this job is also the one
    that materializes the update-join plan that three downstream
    consumers (range sampling, bucket stamping, the final collect)
    would otherwise each recompute.
    """
    dup_rows = (
        src_meta.filter(~F.col("is_dir"))
        .groupBy("relative_dst")
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .select(
            F.lit(True).alias("_dup"),
            F.col("relative_dst").alias("_k"),
            F.lit(None).cast("long").alias("_v"),
        )
    )
    total_row = plan.agg(F.sum("cost").alias("_v")).select(
        F.lit(False).alias("_dup"),
        F.lit(None).cast("string").alias("_k"),
        F.col("_v"),
    )
    stats = dup_rows.unionByName(total_row).collect()
    dups = [str(r["_k"]) for r in stats if r["_dup"]]
    if dups:
        names = ", ".join(dups)
        raise DuplicationError(
            f"multiple sources map to one destination: {names}"
        )
    total = next(r["_v"] for r in stats if not r["_dup"])
    return int(total or 0)


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
    (_distributed_prefix_sum), not a global ordered window — at a
    100 M-row manifest the window would serialize on one task.

    Returns the plan with a ``bucket`` column; the executor
    repartitions on it. num_buckets = clamp(total/bytes_per_task,
    1, max_tasks). ``total`` skips the sum job when the caller
    already computed it (check_duplicates_and_total).
    """
    if total is None:
        total = plan.agg(F.sum("cost")).collect()[0][0] or 0
    n = max(1, int(total // bytes_per_task) + (1 if total % bytes_per_task else 0))
    if max_tasks:
        n = min(n, max_tasks)
    target = max(1, (total + n - 1) // n)
    cum = _distributed_prefix_sum(plan, value_col="cost", out_col="_cum")
    return cum.withColumn(
        "bucket",
        F.floor((F.col("_cum") - F.col("cost")) / F.lit(target)).cast("int"),
    ).drop("_cum")


def plan_mirror_delete(dst_meta: DataFrame, src_plan: DataFrame) -> DataFrame:
    """-delete (DistCpUtils.java:136-223): destination paths whose
    relative path does not appear in the source listing, with
    ancestor suppression — if a directory is deleted, its descendants
    are pruned from the list (isAncestorPath, DistCpUtils.java:113-119)
    so we never double-delete or re-delete inside a removed tree.

    Ancestor suppression is itself relational: a doomed path is
    suppressed iff its parent dir is also doomed. One extra self-join
    on the parent path replaces the reference's ordered scan.
    """
    doomed = dst_meta.join(
        src_plan.select("relative_dst").distinct(), "relative_dst", "left_anti"
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
