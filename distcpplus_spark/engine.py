"""DistCpPlusEngine: the programmatic API (plan / execute / dry-run).

The reference's three entry points (SURVEY.md §3) map to:
  E1 CLI            → distcpplus_spark.cli (same flags, same exit codes)
  E2 embedded API   → this class: plan() returns lazy DataFrames you
                      can inspect (.explain(), .show()) without side
                      effects — the is_real=false mode
                      (DistCPPlus.java:151-158) made first-class
  E3 plan export    → CopyPlan holds the DataFrames + options; the
                      "serialized physical plan" is Catalyst's, not a
                      stringly JobConf

One sync is planned once: plan() walks the source tree and its
destination in lockstep (``list_tree(..., mirror=dst_root)``), pairing
entries by name and comparing the bytes of tie pairs in executor
tasks; ``copy_plan.classify`` tags each pair, and one job reads the
diff. Copies, mirror deletes and the RECORDSKIPPED count are filters of
it. A -update -delete sync whose walk takes one distributed wave runs
at most 8 Spark jobs, 9 over several cost buckets
(tests/test_fileetl.py::test_sync_job_budget). At the copy benchmark's
size a job costs more than its work: read perfbench's ``--trace 1``
jobs before adding one.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distcpplus_spark.operators.copier import (
    CopyFailedError,
    cleanup_tmp,
    counters,
    execute_copy,
    execute_copy_chunked,
    finalize_dir_attrs,
)
from distcpplus_spark.plans.copy_plan import (
    CopyOptions,
    apply_limits,
    assign_cost_buckets,
    check_duplicates_and_total,
    classify,
    destination_rows,
    layout_tasks,
    plan_mirror_delete,
    plan_updates,
    source_rows,
)
from distcpplus_spark.sources.lister import list_tree


class InvalidInputError(FileNotFoundError):
    """One or more source roots do not exist. Mirrors
    DistCpUtils.checkSrcPath (DistCpUtils.java:359-376): ALL missing
    paths are collected into one error, not fail-on-first — a user
    fixing a 10-root job learns every bad root in one run."""


@dataclass
class CopyPlan:
    """Inspectable plan: lazy DataFrames + options (O19 dry-run API)."""

    copies: DataFrame
    deletes: DataFrame | None
    opts: CopyOptions
    dst_root: str
    run_id: str
    # number of source files (post-limit) — feeds the RECORDSKIPPED
    # counter: the reference's skip counter covers files the -update
    # predicate deemed unchanged (DistCPPlus.java:108,816-820), which
    # this engine filters out at PLAN time, so the result DataFrame
    # alone undercounts them. None for rehydrated plans (load_plan),
    # where the source listing was not persisted.
    source_files: int | None = None

    def explain(self) -> None:
        self.copies.explain("formatted")

    def summary(self) -> dict[str, int]:
        agg = self.copies.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("is_dir"), 0).otherwise(1)).alias("files"),
            F.sum("cost").alias("bytes"),
        ).collect()[0]
        out = {
            "rows": agg["n"],
            "files": agg["files"] or 0,
            "bytes": agg["bytes"] or 0,
        }
        if self.deletes is not None:
            out["deletes"] = self.deletes.count()
        return out

    def save(self, path: str) -> None:
        """Export the plan as a durable artifact (the Spark-native form
        of the reference's -exportOnly, DistCPPlus.java:374-383, where
        the serialized plan was a JobConf): manifests as parquet +
        options as JSON. A saved plan can be inspected with any
        parquet reader, diffed between runs, and executed later or
        elsewhere via DistCpPlusEngine.load_plan."""
        import dataclasses
        import json

        self.copies.write.mode("overwrite").parquet(
            os.path.join(path, "copies")
        )
        if self.deletes is not None:
            self.deletes.write.mode("overwrite").parquet(
                os.path.join(path, "deletes")
            )
        meta = {
            "opts": {
                k: (sorted(v) if isinstance(v, frozenset) else v)
                for k, v in dataclasses.asdict(self.opts).items()
            },
            "dst_root": self.dst_root,
            "run_id": self.run_id,
        }
        with open(os.path.join(path, "plan.json"), "w") as f:
            json.dump(meta, f, indent=2)


class DistCpPlusEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.last_metrics: dict | None = None

    def plan(
        self,
        src_roots: list[str],
        dst_root: str,
        opts: CopyOptions | None = None,
        name_regex: str | None = None,
        depth_regexes: list[str] | None = None,
    ) -> CopyPlan:
        """Build the copy plan. Pure planning — no writes, no copies.
        Discovery happens HERE, not in argument parsing (unlike
        Arguments.java:194-196 which does RPCs inside the parser).

        ``name_regex`` is the -rg child-name selector (O3, source
        DISCOVERY: matched direct children of the first root become
        the sources — dirs wholesale); ``depth_regexes`` the
        -regexPath per-depth chain (O4) applied below the first src
        root."""
        opts = opts or CopyOptions()
        src_roots = [os.path.abspath(r) for r in src_roots]
        # O5 aggregate validation (DistCpUtils.java:359-376): every
        # missing root reported in ONE error, not fail-on-first.
        missing = [r for r in src_roots if not os.path.exists(r)]
        if missing:
            raise InvalidInputError(
                f"source paths do not exist: {', '.join(missing)}"
            )

        if name_regex:
            # -rg discovery (Arguments.getFilePaths, Arguments.java:
            # 306-346): ONE listing of the rg dir; direct children
            # whose NAME full-matches become the sources — matched
            # dirs wholesale, files individually. Everything below
            # (special-root rule, limits, update walk) then treats
            # them as ordinary roots, exactly like the reference's
            # args.srcs. No matches → usage error ("Missing src",
            # Arguments.java:243-246). One scandir at plan time; the
            # reference skips per-file existence RPCs in regex mode
            # for the same reason (P4).
            import re as _re

            rg_dir = src_roots[0]
            if not os.path.isdir(rg_dir):
                # argument-shaped failure → usage error (-1), same as
                # the empty-match case below
                raise ValueError(f"-rg source is not a directory: {rg_dir}")
            rx = _re.compile(name_regex)
            matched = sorted(
                os.path.join(rg_dir, n)
                for n in os.listdir(rg_dir)
                if rx.fullmatch(n)
            )
            if not matched:
                raise ValueError(
                    f"-rg pattern {name_regex!r} matched nothing under "
                    f"{rg_dir} (missing src)"
                )
            src_roots = matched + src_roots[1:]

        dst_exists = os.path.exists(dst_root)
        # Special-root rule (DistCPPlus.java:602-604, 630-635): with
        # -update/-overwrite, or a single src copied to a nonexistent
        # dst, a DIRECTORY source's root is the src itself — its
        # CONTENTS land directly under dst (dst/..., not dst/<base>/...).
        # File sources always key off their parent (rel = basename).
        # -regexPath mode keys everything off the regex root
        # (regexRoot, DistCPPlus.java:508, 632-633), and the walk
        # prunes the components that do not match.
        special = (
            opts.update
            or opts.overwrite
            or (len(src_roots) == 1 and not dst_exists)
        )
        roots = src_roots
        if depth_regexes:
            if not os.path.isdir(src_roots[0]):
                raise ValueError(
                    f"-regexPath root is not a directory: {src_roots[0]}"
                )
            roots, special = src_roots[:1], True

        # The diff: the source and destination walked in lockstep, each
        # pair tagged with its action (tie pairs' bytes compared in
        # executor tasks). Copies, deletes and the source-file count are
        # filters of it; the pairs are checkpointed JVM rows, so every
        # consumer reads them without re-listing. An unreadable
        # destination subtree (a root-owned lost+found) does not fail
        # the copy, see list_tree.
        diff = classify(
            list_tree(
                self.spark,
                roots,
                include_roots=not depth_regexes,
                prefix_base=not special,
                mirror=dst_root,
                opts=opts,
                depth_regexes=depth_regexes,
            ),
            opts,
        )
        listed = source_rows(diff)
        # The full listing feeds the dup check and the mirror delete:
        # the reference's dst-list writer appends EVERY traversed
        # child, including limit-skipped ones (DistCPPlus.java:732-733),
        # so -delete never removes a file that was merely over-limit.
        # -update quirk (DistCPPlus.java:676-700): the sameFile
        # assignment OVERWRITES the limit skip, so filelimit / sizelimit
        # are ignored in update mode. Replicated as-is.
        sources = (
            listed
            if opts.update
            else apply_limits(listed, opts.file_limit, opts.size_limit)
        )
        n_files, costs = check_duplicates_and_total(diff, sources)
        copies = assign_cost_buckets(
            plan_updates(sources, destination_rows(diff), opts),
            opts.bytes_per_task,
            opts.max_tasks,
            costs=costs,
        )

        deletes = None
        if opts.delete and os.path.isdir(dst_root):
            deletes = plan_mirror_delete(diff)

        return CopyPlan(
            copies=copies,
            deletes=deletes,
            opts=opts,
            dst_root=dst_root,
            run_id=uuid.uuid4().hex[:12],
            source_files=n_files,
        )

    def execute(self, plan: CopyPlan, copy_fn=None) -> DataFrame:
        """Run the plan: copies (distributed), then deletes, then the
        failure gate. Returns the result DataFrame, one row per plan
        row, lazily local-checkpointed. The ``counters`` job below is
        the one action that runs the copy: it fills the checkpoint and
        takes the O15 counters, as the reference's map tasks count
        during the copy job (DistCPPlus.java:108,203-229). The dir
        finalize, the -log sink and the caller then read the
        checkpointed rows; a lost block fails their job instead of
        re-running the copy.

        ``self.last_metrics`` holds the counters and stage timings that
        mirror the reference's SETUP/RUN/CLEANUP_TIME."""
        import time as _time

        os.makedirs(plan.dst_root, exist_ok=True)
        t_run = _time.perf_counter()
        try:
            if plan.opts.chunk_bytes:
                result = execute_copy_chunked(
                    plan.copies, plan.dst_root, plan.run_id, plan.opts, copy_fn
                )
            else:
                result = execute_copy(
                    plan.copies,
                    plan.dst_root,
                    plan.run_id,
                    preserve=plan.opts.preserve,
                    copy_fn=copy_fn,
                )
            result = result.localCheckpoint(eager=False)
            stats = counters(result)
            run_s = _time.perf_counter() - t_run
        finally:
            t_clean = _time.perf_counter()
            cleanup_tmp(plan.dst_root, plan.run_id)
            cleanup_s = _time.perf_counter() - t_clean

        # O16 finalize: dir owner/group/permission post-pass
        # (DistCPPlus.java:264-297) — after the copy action, so child
        # writes never race a restrictive parent-dir mode.
        finalize_dir_attrs(result, plan.dst_root, plan.opts.preserve)

        # -log sink (O20): SKIP/FAIL records as JSON, written BEFORE
        # the failure gate so a failing job still leaves its log
        # (the reference emits them as MR output during the job).
        if plan.opts.log_dir:
            (
                result.filter(F.col("status").isin("SKIP", "FAIL"))
                .write.mode("overwrite")
                .json(plan.opts.log_dir)
            )

        deletes = delete_fails = 0
        if plan.deletes is not None:
            deletes, delete_fails = self._execute_deletes(plan)

        fails = stats["FAIL"]
        self.last_metrics = {
            "rows": sum(
                n
                for status, n in stats.items()
                if status not in ("BYTESCOPIED", "BYTESEXPECTED")
            ),
            "fails": fails,
            "bytes_copied": stats["BYTESCOPIED"],
            "deletes": deletes,
            "delete_fails": delete_fails,
            "counters": stats,
            "run_s": round(run_s, 3),
            "cleanup_s": round(cleanup_s, 3),
        }
        if (fails or delete_fails) and not plan.opts.ignore_failures:
            raise CopyFailedError(
                f"{fails} file(s) failed to copy and {delete_fails} mirror "
                f"delete(s) failed (use ignore_failures to tolerate)"
            )
        return result

    def copy(
        self,
        src_roots: list[str],
        dst_root: str,
        opts: CopyOptions | None = None,
        copy_fn=None,
        **plan_kwargs,
    ) -> dict[str, int]:
        """plan + execute in one call (the common path): the copy's
        counters plus DELETE, DELETE_FAIL and RECORDSKIPPED.
        ``copy_fn`` swaps the copy operator (the -mapper surface)."""
        plan = self.plan(src_roots, dst_root, opts, **plan_kwargs)
        self.execute(plan, copy_fn=copy_fn)
        out = dict(self.last_metrics["counters"])
        out["DELETE"] = self.last_metrics["deletes"]
        out["DELETE_FAIL"] = self.last_metrics["delete_fails"]
        if plan.source_files is not None:
            # RECORDSKIPPED is an EXTENSION, not reference parity: the
            # reference declares the counter but never increments it
            # (DistCPPlus.java:108 declares; only SKIP is ever used,
            # DefaultCopyFilesMapper.java:133). Here it estimates files
            # skipped either by the -update join at plan time or by the
            # copier's exec-time staleness re-check, derived from the
            # plan's source-file count (source files − COPY − FAIL),
            # taken by the job that materialized the plan. FAIL can
            # include directory rows (mkdir/attr failures), which the
            # file count doesn't count — clamp at 0 instead of going
            # negative in that case.
            out["RECORDSKIPPED"] = max(
                0, plan.source_files - out["COPY"] - out["FAIL"]
            )
        return out

    def load_plan(self, path: str) -> CopyPlan:
        """Rehydrate a plan exported by CopyPlan.save: parquet
        manifests back to DataFrames, options from JSON. Execution is
        then identical to a freshly-built plan (the copier re-checks
        staleness per row, so an aged plan degrades to SKIPs, not
        corruption)."""
        import json

        with open(os.path.join(path, "plan.json")) as f:
            meta = json.load(f)
        opts_d = meta["opts"]
        opts_d["preserve"] = frozenset(opts_d.get("preserve") or ())
        opts = CopyOptions(**opts_d)
        copies = self.spark.read.parquet(os.path.join(path, "copies"))
        # parquet keeps the bucket column, not the layout: lay the
        # buckets out as tasks again (one small job for their count)
        n = (copies.agg(F.max("bucket")).collect()[0][0] or 0) + 1
        copies = layout_tasks(copies, n)
        deletes_path = os.path.join(path, "deletes")
        deletes = (
            self.spark.read.parquet(deletes_path)
            if os.path.isdir(deletes_path)
            else None
        )
        return CopyPlan(
            copies=copies,
            deletes=deletes,
            opts=opts,
            dst_root=meta["dst_root"],
            run_id=meta["run_id"],
        )

    def sql(
        self,
        statement: str,
        sf_dir: str | None = None,
        args: dict | None = None,
    ) -> DataFrame:
        """Analytics entry point (a) of SURVEY.md §3: ANSI SQL through
        Spark's parser/Catalyst. With ``sf_dir`` the fixture tables are
        (re-)registered as temp views first, so
        ``engine.sql("SELECT ... FROM lineitem", sf_dir)`` just works;
        without it, the statement runs against whatever views the
        caller registered. ``args`` binds ``:name`` named parameters
        (Spark 4 parameterized SQL) — values travel as typed literals
        through the parser, never via string interpolation, so user
        input cannot inject SQL."""
        if sf_dir is not None:
            from distcpplus_spark.catalog import register_views

            register_views(self.spark, sf_dir)
        if args is not None:
            return self.spark.sql(statement, args=args)
        return self.spark.sql(statement)

    def _execute_deletes(self, plan: CopyPlan) -> tuple[int, int]:
        """Mirror-delete execution over the pruned delete list, as one
        job that returns ``(deleted, failed)``. Dirs are removed
        recursively (their descendants were ancestor-suppressed out of
        the list). A target that has already vanished is neither; any
        other OSError is a failed delete, which fails the run closed
        like a failed copy."""
        dst_root = plan.dst_root

        def delete_partition(rows):
            import shutil as _sh

            deleted = failed = 0
            for row in rows:
                target = os.path.join(dst_root, row["relative_dst"])
                try:
                    if row["is_dir"]:
                        _sh.rmtree(target)
                    else:
                        os.remove(target)
                    deleted += 1
                except FileNotFoundError:
                    pass
                except OSError:
                    failed += 1
            yield deleted, failed

        return plan.deletes.rdd.mapPartitions(delete_partition).fold(
            (0, 0), lambda a, b: (a[0] + b[0], a[1] + b[1])
        )
