"""Scale-out join strategies: skew salting and bucketed co-location.

These are the two levers the built-in planner cannot apply on its own:

* **Salting** rewrites a skewed equi-join so one hot key's rows spread
  over N reducers instead of hot-spotting one. AQE's skew-join handles
  skew *within* sort-merge joins after a shuffle exists; salting is for
  the aggregation-side variant and for engines/versions where AQE can't
  split (e.g. a skewed ``groupBy``).
* **Bucketing** persists a table pre-hash-partitioned on its join key so
  repeated joins/aggregations on that key run with ZERO shuffle — the
  pattern for a 100 TB fact table joined every day on the same key.

Reference parity note: the reference's only partitioning strategy is
size-balanced bin-packing of a copy manifest (CopyInputFormat.java:33-79,
mapped in plans/copy_plan.py::assign_cost_buckets). Salting/bucketing are
the analytics-engine generalization of the same idea: choose the
partitioning function from data statistics, not row order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

SALT_COL = "__dcp_salt"


def partitioned_running_agg(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    bucket: Column,
    agg: str = "sum",
    deterministic_bucket: bool = True,
) -> DataFrame:
    """Distributed running aggregate (prefix sum / running max): the
    two-phase replacement for a partition-less ordered window, which
    would funnel EVERY row through one task.

    Phase 1: rows group by a caller-supplied coarse bucket expression
    that is monotone non-decreasing in ``order_cols`` (floor(id/width),
    a day truncated from a timestamp, ...); the running aggregate runs
    per bucket as an ordinary partitioned window — fully parallel.
    Phase 2: one total per bucket collects to the driver (thousands of
    rows, not the data), becomes a per-bucket carry-in offset — the
    scan-then-propagate step of the textbook parallel prefix sum —
    and broadcasts back to combine with the in-bucket running value.

    Equivalent to ``agg(value).over(Window.orderBy(*order_cols))``
    (ROWS UNBOUNDED PRECEDING) when ``bucket`` is monotone in the
    order and order values don't straddle buckets with ties.
    """
    return partitioned_running_aggs(
        df, order_cols, [(value_col, out_col, agg)], bucket,
        deterministic_bucket=deterministic_bucket,
    )


def partitioned_running_aggs(
    df: DataFrame,
    order_cols: list[str],
    specs: list[tuple[str, str, str]],
    bucket: Column,
    deterministic_bucket: bool = True,
) -> DataFrame:
    """N running aggregates in one pass — same two-phase parallel
    prefix sum as :func:`partitioned_running_agg` (see there for the
    algorithm), amortized: ONE local window, ONE per-bucket totals
    job, ONE broadcast join, however many ``(value_col, out_col,
    'sum'|'max')`` specs are requested.

    ``deterministic_bucket=False`` declares that ``bucket`` (or the
    lineage it reads) is NOT stable across separate Spark jobs — the
    canonical case is ``spark_partition_id()`` downstream of
    ``repartitionByRange``, whose range boundaries come from reservoir
    sampling re-drawn per execution. The algorithm evaluates the
    bucket-stamped frame in TWO jobs (the per-bucket totals collect
    and the caller's final action); if bucket assignment shifts
    between them, carry-ins double-count or drop boundary rows. In
    that mode the stamped frame is materialized once
    (``localCheckpoint(eager=True)``) so both jobs read identical
    bucket values. Cost: one materialization of the manifest-sized
    frame to executor storage — metadata rows, not data, at 100 TB.
    """
    for _, _, agg in specs:
        if agg not in ("sum", "max"):
            raise ValueError(f"agg must be 'sum' or 'max', got {agg!r}")

    def fn(agg):
        return F.sum if agg == "sum" else F.max

    b = df.withColumn("_rab", bucket)
    if not deterministic_bucket:
        b = b.localCheckpoint(eager=True)
    w_local = (
        W.partitionBy("_rab")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = b
    for i, (value_col, _, agg) in enumerate(specs):
        local = local.withColumn(f"_local{i}", fn(agg)(value_col).over(w_local))

    totals = (
        b.groupBy("_rab")
        .agg(
            *[
                fn(agg)(value_col).alias(f"_t{i}")
                for i, (value_col, _, agg) in enumerate(specs)
            ]
        )
        .orderBy("_rab")
        .collect()
    )
    # running carry-in per spec: the scan step of the parallel prefix sum
    carry_rows = []
    accs: list = [None] * len(specs)
    for r in totals:
        carry_rows.append((r["_rab"], *accs))
        for i, (_, _, agg) in enumerate(specs):
            t = r[f"_t{i}"]
            if t is None:
                continue
            if accs[i] is None:
                accs[i] = t
            elif agg == "sum":
                accs[i] = accs[i] + t
            else:
                accs[i] = max(accs[i], t)

    bucket_type = b.schema["_rab"].dataType
    carry_fields = [T.StructField("_carry_rab", bucket_type, True)]
    for i in range(len(specs)):
        carry_fields.append(
            T.StructField(f"_carry{i}", local.schema[f"_local{i}"].dataType, True)
        )
    # one-slice local relation: the carry table is ≤ one row per range
    # bucket, but createDataFrame(list) would split it into
    # defaultParallelism Python-evaluated slices — building THIS
    # broadcast then runs one Python worker round trip per slice, per
    # prefix-sum call (the round-14 local_rows device)
    carry_df = df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.parallelize(carry_rows, numSlices=1),
        T.StructType(carry_fields),
    )
    # null-safe equality: a NULL bucket (NULL order key) must join its
    # carry row, not silently drop — plain '=' is null-rejecting
    combined = local.join(
        F.broadcast(carry_df),
        local["_rab"].eqNullSafe(carry_df["_carry_rab"]),
    ).drop("_carry_rab")
    drop_cols = ["_rab"]
    for i, (_, out_col, agg) in enumerate(specs):
        lc, cc = F.col(f"_local{i}"), F.col(f"_carry{i}")
        if agg == "sum":
            # three cases so all-NULL in-bucket prefixes still surface
            # the prior buckets' sum, exactly like the global window
            out = (
                F.when(lc.isNull(), cc)
                .when(cc.isNull(), lc)
                .otherwise(cc + lc)
            )
        else:
            out = F.greatest(lc, cc)  # greatest skips nulls
        combined = combined.withColumn(out_col, out)
        drop_cols += [f"_local{i}", f"_carry{i}"]
    return combined.drop(*drop_cols)


def _sort_exprs(pairs: list[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in pairs]


def distributed_ranks(
    df: DataFrame,
    order: list[tuple[str, bool]],
    tiebreak: list[tuple[str, bool]] = (),
    *,
    row_number_col: str | None = None,
    rank_col: str | None = None,
    dense_rank_col: str | None = None,
    ntile: tuple[int, str] | None = None,
    percent_rank_col: str | None = None,
    cume_dist_col: str | None = None,
    unique_order: bool = False,
) -> DataFrame:
    """Distributed replacement for a GLOBAL ordered window's
    rank/dense_rank/row_number/ntile — the shape that otherwise
    funnels the whole input through ONE task (the q197 defect class;
    see tests/test_window_audit.py).

    ``order`` is the ranking key as ``(col, ascending)`` pairs;
    ``tiebreak`` extends it to a UNIQUE total order (required for
    ``row_number_col``/``ntile``, ignored by rank/dense_rank, whose
    semantics depend only on ``order``).

    Algorithm — everything is bucketed, nothing is single-task:

    * ``rank``/``dense_rank`` need only the DISTINCT key values and
      their multiplicities: ``groupBy(order)`` (|keys| rows, not
      |rows|), range-repartition on the key, then ONE two-phase
      prefix sum (:func:`partitioned_running_aggs`) computes both an
      inclusive key counter (= dense_rank) and an inclusive row-count
      prefix (rank = prefix − own_count + 1). The |keys|-sized table
      joins back on the key (null-safe, so a NULL key ranks like the
      window would). Cost: one key aggregate + one |keys| prefix +
      one equi-join — never a full-data single task.
    * ``row_number``/``ntile`` range-repartition the ROWS on the
      unique full order and prefix-sum a constant 1; ntile buckets
      come from row_number plus one scalar ``count()`` (q = n//t,
      r = n%t: first r tiles get q+1 rows — the standard SQL
      NTILE split, computed as a plain column expression).

    Ordering semantics are Spark's defaults (``asc`` = NULLS FIRST,
    ``desc`` = NULLS LAST); pin nulls on the caller side if the
    consumer (e.g. a DuckDB oracle, NULLS LAST on asc) differs.

    ``percent_rank`` = (rank−1)/(n−1) and ``cume_dist`` =
    |rows with key ≤ current| / n derive from the same prefixes plus
    ONE scalar ``count()``; with ``unique_order=True`` the caller
    asserts ``order`` is already a total order (every row its own
    key), and rank/percent_rank/cume_dist all fall out of the
    row-level prefix — the distinct-keys pass is skipped entirely.

    ``repartitionByRange`` draws its range boundaries by reservoir
    sampling — non-deterministic across jobs — so both prefix sums
    run with ``deterministic_bucket=False`` (the stamped frame is
    checkpointed once; see :func:`partitioned_running_aggs`).
    """
    if not (
        row_number_col or rank_col or dense_rank_col or ntile
        or percent_rank_col or cume_dist_col
    ):
        raise ValueError("request at least one output column")
    key_cols = [c for c, _ in order]
    out = df
    n_rows = (
        df.count()  # one scalar job
        if (ntile or percent_rank_col or cume_dist_col)
        else None
    )

    def _pr(rank_expr):
        if n_rows == 1:
            return F.lit(0.0)
        return (rank_expr - 1) / F.lit(float(n_rows - 1))

    needs_key_pass = (
        rank_col
        or dense_rank_col
        or ((percent_rank_col or cume_dist_col) and not unique_order)
    )
    if needs_key_pass:
        keys = df.groupBy(*key_cols).agg(F.count("*").alias("_kc"))
        kst = partitioned_running_aggs(
            keys.repartitionByRange(*_sort_exprs(order)).withColumn(
                "_one", F.lit(1)
            ),
            _sort_exprs(order),
            [("_one", "_dr", "sum"), ("_kc", "_incl", "sum")],
            F.spark_partition_id(),
            deterministic_bucket=False,
        )
        proj = [F.col(c).alias(f"_rk_{c}") for c in key_cols]
        if rank_col:
            proj.append(
                (F.col("_incl") - F.col("_kc") + 1).alias(rank_col)
            )
        if dense_rank_col:
            proj.append(F.col("_dr").alias(dense_rank_col))
        if percent_rank_col and not unique_order:
            proj.append(
                _pr(F.col("_incl") - F.col("_kc") + 1).alias(
                    percent_rank_col
                )
            )
        if cume_dist_col and not unique_order:
            proj.append(
                (F.col("_incl") / F.lit(float(n_rows))).alias(
                    cume_dist_col
                )
            )
        ktab = kst.select(*proj)
        cond = None
        for c in key_cols:
            eq = out[c].eqNullSafe(ktab[f"_rk_{c}"])
            cond = eq if cond is None else (cond & eq)
        out = out.join(ktab, cond).drop(*[f"_rk_{c}" for c in key_cols])

    needs_row_pass = row_number_col or ntile or (
        unique_order and (percent_rank_col or cume_dist_col)
    )
    if needs_row_pass:
        full = list(order) + list(tiebreak)
        rn_col = row_number_col or "_dcp_rn"
        out = partitioned_running_agg(
            out.repartitionByRange(*_sort_exprs(full)).withColumn(
                "_one", F.lit(1)
            ),
            _sort_exprs(full),
            "_one",
            rn_col,
            F.spark_partition_id(),
            deterministic_bucket=False,
        ).drop("_one")
        if unique_order and percent_rank_col:
            out = out.withColumn(percent_rank_col, _pr(F.col(rn_col)))
        if unique_order and cume_dist_col:
            out = out.withColumn(
                cume_dist_col, F.col(rn_col) / F.lit(float(n_rows))
            )
        if ntile is not None:
            n_tiles, tile_col = ntile
            q, r = divmod(n_rows, n_tiles)
            rn = F.col(rn_col)
            if q == 0:
                tile = rn
            else:
                boundary = r * (q + 1)
                tile = F.when(
                    rn <= F.lit(boundary), F.ceil(rn / F.lit(q + 1))
                ).otherwise(
                    F.lit(r) + F.ceil((rn - F.lit(boundary)) / F.lit(q))
                )
            out = out.withColumn(tile_col, tile)
        if row_number_col is None:
            out = out.drop(rn_col)
    return out


def salted_join(
    facts: DataFrame,
    dims: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-mitigated equi-join of a big skewed ``facts`` side against a
    smaller ``dims`` side.

    The fact side gets a deterministic salt in ``[0, salt_buckets)``
    derived from a hash of the whole row, appended to the join key; the
    dim side is exploded ``salt_buckets``-fold so every (key, salt)
    combination still matches. A key holding 30% of all rows now lands
    on ``salt_buckets`` reducers instead of one.

    Cost model: dims shuffle volume multiplies by ``salt_buckets`` —
    use only when |dims| * salt_buckets << |facts|, i.e. exactly the
    skewed-fact/small-dim shape. Only ``inner`` and ``left`` (fact-
    preserving) joins are supported: duplicating the dim side would
    corrupt right/full semantics.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)

    salt = F.pmod(F.hash(*[F.col(c) for c in facts.columns]), F.lit(salt_buckets))
    f = facts.withColumn(SALT_COL, salt)
    d = dims.withColumn(
        SALT_COL,
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return f.join(d, keys + [SALT_COL], how).drop(SALT_COL)


def salted_group_count(
    df: DataFrame, key: str, salt_buckets: int = 16
) -> DataFrame:
    """Two-phase aggregation for a skewed ``groupBy(key).count()``:
    partial-aggregate on (key, salt), then combine per key. The second
    shuffle moves at most ``salt_buckets`` rows per key no matter how
    hot the key is. Generalizes to any commutative aggregate.
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial = (
        df.withColumn(SALT_COL, salt)
        .groupBy(key, SALT_COL)
        .agg(F.count("*").alias("__partial_n"))
    )
    return partial.groupBy(key).agg(F.sum("__partial_n").alias("n"))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str | list[str],
    n_buckets: int,
    path: str | None = None,
    sort_key: str | list[str] | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on its join
    key. Subsequent equi-joins/aggregations between tables bucketed the
    same way on the same key read co-located buckets and skip the
    shuffle entirely — the plan shows SortMergeJoin with no Exchange.

    ``path`` makes it an external table (data at ``path``, metadata in
    the session catalog); omit for a managed table in the warehouse dir.
    """
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = df.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", path)
    writer = writer.bucketBy(n_buckets, *keys)
    if sort_key is not None:
        sorts = [sort_key] if isinstance(sort_key, str) else list(sort_key)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table)


def hinted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    strategy: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with an explicit strategy override: 'broadcast',
    'merge' (sort-merge), 'shuffle_hash', or 'shuffle_replicate_nl'.

    Catalyst's size-estimate-driven choice is right ~always; the
    override exists for the cases statistics get wrong at 100 TB —
    e.g. a filtered dimension whose post-filter size the optimizer
    can't see (broadcast it anyway), or a medium⋈medium join where
    sort-merge's sort dominates and shuffle-hash wins. The hint is
    advisory on the RIGHT side; Spark ignores it when invalid for the
    join type, never fails.
    """
    valid = {"broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl"}
    if strategy not in valid:
        raise ValueError(f"strategy must be one of {sorted(valid)}")
    return left.join(right.hint(strategy), on, how)


def skew_report(
    df: DataFrame,
    key_col: str,
    n_partitions: int = 200,
    mixer_mod: int = 1000003,
) -> DataFrame:
    """Shuffle-skew diagnosis for a hypothetical hash partitioning on
    ``key_col`` — the pre-flight check before a big join/groupBy: per-
    key counts fold into per-reducer totals, and the report says how
    unbalanced the shuffle would be and what salt factor would fix it.

    Columns (one row): n_rows, n_keys, max_bucket_rows,
    skew_ratio6 (max bucket / mean bucket), top_key, top_key_rows,
    recommended_salt (ceil of the hot KEY's share x n_partitions —
    the bucket count salted_join needs so the hot key's splits are
    no bigger than an average reducer).

    The bucket hash is the engine-portable integer mixer (same
    family as the sampling queries), NOT Spark's internal hash — so
    an external system (or the DuckDB oracle) computes identical
    buckets; the diagnosis is about the KEY DISTRIBUTION, which any
    uniform hash maps the same way in expectation. Scale: two hash
    aggregates (keys, then buckets) + one scalar fold; never wider
    than the key cardinality."""
    key_counts = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count("*").alias("_c")
    )
    bucket = (
        (F.col("_k").cast("bigint") * F.lit(2654435761) + F.lit(1013904223))
        % F.lit(mixer_mod) % F.lit(n_partitions)
    )
    buckets = key_counts.groupBy(bucket.alias("_b")).agg(
        F.sum("_c").alias("_bc")
    )
    totals = key_counts.agg(
        F.sum("_c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max_by("_k", F.struct(F.col("_c"), -F.col("_k"))).alias("top_key"),
        F.max("_c").alias("top_key_rows"),
    )
    bstats = buckets.agg(F.max("_bc").alias("max_bucket_rows"))
    return totals.crossJoin(F.broadcast(bstats)).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("max_bucket_rows").cast("bigint").alias("max_bucket_rows"),
        F.round(
            F.col("max_bucket_rows")
            / (F.col("n_rows") / F.lit(float(n_partitions))),
            6,
        ).alias("skew_ratio6"),
        F.col("top_key").cast("bigint").alias("top_key"),
        F.col("top_key_rows").cast("bigint").alias("top_key_rows"),
        F.ceil(
            F.col("top_key_rows") * F.lit(n_partitions) / F.col("n_rows")
        ).cast("bigint").alias("recommended_salt"),
    )


def estimate_equijoin_rows(a: DataFrame, b: DataFrame, key: str) -> int:
    """EXACT output cardinality of an inner equi-join, from per-key
    counts alone: |A join B| = sum over shared keys of c_a * c_b —
    the histogram-join estimator every CBO runs, exact (not an
    estimate) when the full per-key histogram is used, as here. Cost:
    two key-count aggregates + a join ON THE DISTINCT KEYS (dimension
    cardinality, not fact rows) — orders of magnitude cheaper than
    materializing the join it predicts."""
    ca = a.groupBy(F.col(key).alias("_k")).agg(F.count("*").alias("_ca"))
    cb = b.groupBy(F.col(key).alias("_k")).agg(F.count("*").alias("_cb"))
    row = (
        ca.join(cb, "_k")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("n"))
        .collect()[0]
    )
    return int(row["n"] or 0)


def exact_percentiles(
    df: DataFrame, value_col: str, percentages: list[float]
) -> DataFrame:
    """EXACT interpolated percentiles as a one-row DataFrame —
    the distributed replacement for a global ``F.percentile``
    aggregate over a high-cardinality column.

    Spark's ``percentile`` is a TypedImperativeAggregate: every task
    builds a value→count map, every partial buffer (collectively,
    every distinct value) is serialized to ONE final task, which
    merges and sorts the whole value domain — at 18M rows / ~5M
    distinct doubles (sf3 lineitem prices) that single task is
    50-75 s, and it grows with the data. Here the same sorted-counts
    walk runs distributed: one ``groupBy(value)`` count (|distinct|
    rows, map-side combined), one range repartition on the value,
    ONE two-phase prefix sum (:func:`partitioned_running_aggs`), and
    the order statistics fall out of a |distinct|-row filter — no
    task ever holds the value domain.

    BIT-PARITY with ``F.percentile`` (oracle-compatible), by
    construction — each step reproduces Percentile.getPercentile:

    * ``position = p * (n − 1)`` with n = non-null row count (BIGINT
      promoted to double, same IEEE multiply);
    * ``lower = floor(position)``, ``higher = ceil(position)``; the
      0-based order statistic at index i is the unique value whose
      cumulative-count interval satisfies ``cum − c <= i < cum``;
    * ``lower == higher`` or equal keys return the lower key
      UNTOUCHED (no arithmetic);
    * otherwise ``(higher − position) * lowerKey +
      (position − lower) * higherKey`` — Spark's exact expression
      (pinned empirically: 210/210 bit-equal incl. duplicate keys
      and integral positions; the RN form ``lo + (hi−lo)·frac``
      diverges in last bits).

    NULLs are ignored (as the aggregate does); an empty or all-NULL
    input yields one row of NULLs (same as the aggregate's NULL).
    Like the other two-phase devices this runs the per-bucket totals
    job at CONSTRUCTION time (eager-contract caveat: building the
    result DataFrame launches Spark jobs).

    Returns one row with columns ``_p0 .. _p<k-1>`` in the order of
    ``percentages``.
    """
    # match F.percentile's contract: an out-of-range percentage is an
    # ERROR there, and silently-NULL keys here would hide caller typos
    bad = [p for p in percentages if not 0.0 <= float(p) <= 1.0]
    if bad:
        raise ValueError(
            f"percentages must be in [0, 1], got {bad} (the F.percentile "
            "aggregate this function is bit-compatible with raises too)"
        )
    vals = df.select(F.col(value_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    counts = vals.groupBy("_v").agg(F.count("*").alias("_c"))
    ranged = counts.repartitionByRange(F.col("_v").asc())
    stamped = partitioned_running_aggs(
        ranged,
        ["_v"],
        [("_c", "_cum", "sum")],
        F.spark_partition_id(),
        deterministic_bucket=False,
    )
    n_df = stamped.agg(F.max("_cum").alias("_n"))
    j = stamped.crossJoin(F.broadcast(n_df))

    def pos_of(p: float) -> Column:
        return F.lit(float(p)) * (F.col("_n") - F.lit(1))

    key_aggs = []
    for i, p in enumerate(percentages):
        lower, higher = F.floor(pos_of(p)), F.ceil(pos_of(p))
        for tag, idx in (("_lk", lower), ("_hk", higher)):
            key_aggs.append(
                F.min(
                    F.when(
                        (F.col("_cum") - F.col("_c") <= idx)
                        & (idx < F.col("_cum")),
                        F.col("_v"),
                    )
                ).alias(f"{tag}{i}")
            )
    keys = j.agg(*key_aggs, F.max("_n").alias("_n"))

    outs = []
    for i, p in enumerate(percentages):
        pos = pos_of(p)
        lower, higher = F.floor(pos), F.ceil(pos)
        lk, hk = F.col(f"_lk{i}"), F.col(f"_hk{i}")
        outs.append(
            F.when(lower == higher, lk)
            .when(hk == lk, lk)
            .otherwise((higher - pos) * lk + (pos - lower) * hk)
            .alias(f"_p{i}")
        )
    return keys.select(*outs)
