"""Seeded workloads: input generation, the timed operation, and the
output checks that feed ``failed``.

Every workload object follows one shape:

- ``__init__(work_dir, seed)`` generates the inputs from ``seed``
  (outside any timed region, in this one process);
- ``prepare()`` resets state before an operation (untimed);
- ``run(ctx)`` is the timed operation; ``ctx`` carries the engine,
  the session and the span factory of the traced run;
- ``check(out)`` returns a list of mismatch messages (empty = correct);
- ``n_files`` / ``n_bytes`` are the source size the throughput
  metrics divide by.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

# Source tree of sync_update_delete: root -> 4 dirs -> 32 leaf dirs
# each. The third listing wave holds 128 directories, above the
# lister's 64-directory fan-out threshold, so it runs as a distributed
# wave; the first two waves are scanned on the driver.
FAN_TOP = 4
FAN_LEAF = 32
N_FILES = 2000
MIN_FILE_BYTES = 2048
MAX_FILE_BYTES = 6144
# sync_update_delete changes 1% of the files per operation in each of
# three ways: appended to, deleted, added.
CHANGE_SHARE = 0.01


def _leaf_dirs(root: str) -> list[str]:
    return [
        os.path.join(root, f"d{i:02d}", f"e{j:02d}")
        for i in range(FAN_TOP)
        for j in range(FAN_LEAF)
    ]


def make_small_tree(root: str, rng: random.Random) -> None:
    """``N_FILES`` files of 2-6 KB of seeded random bytes, spread
    round-robin over the leaf directories."""
    leaves = _leaf_dirs(root)
    for d in leaves:
        os.makedirs(d, exist_ok=True)
    for k in range(N_FILES):
        path = os.path.join(leaves[k % len(leaves)], f"f{k:05d}.bin")
        with open(path, "wb") as f:
            f.write(rng.randbytes(rng.randint(MIN_FILE_BYTES, MAX_FILE_BYTES)))


def tree_manifest(root: str) -> dict[str, tuple[int, str] | None]:
    """relative path -> (size, sha256) for files, None for dirs."""
    out: dict[str, tuple[int, str] | None] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        for d in dirnames:
            out[os.path.normpath(os.path.join(rel_dir, d))] = None
        for name in filenames:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            out[os.path.normpath(os.path.join(rel_dir, name))] = (
                os.path.getsize(path),
                digest,
            )
    return out


def compare_trees(src: str, dst: str) -> list[str]:
    """Mismatches between two trees in paths, sizes and content digest."""
    if not os.path.isdir(dst):
        return [f"destination {dst} does not exist"]
    want, got = tree_manifest(src), tree_manifest(dst)
    errors = [f"missing in destination: {p}" for p in sorted(want.keys() - got.keys())]
    errors += [f"unexpected in destination: {p}" for p in sorted(got.keys() - want.keys())]
    errors += [
        f"differs from source: {p}"
        for p in sorted(want.keys() & got.keys())
        if want[p] != got[p]
    ]
    return errors[:10]


def _count_tree(root: str) -> tuple[int, int]:
    """(files, file bytes)."""
    files = size = 0
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def _check_counters(out: dict, want: dict) -> list[str]:
    return [
        f"counter {k}={out.get(k)} (expected {v})"
        for k, v in want.items()
        if out.get(k) != v
    ]


class SyncUpdateDelete:
    """``-update -delete -pt`` after a seeded 1% change to the source.

    The destination starts as an mtime-preserving mirror of the source.
    Each ``prepare()`` applies a fresh change to the source (appends,
    deletes, adds), so every operation sees the same amount of change
    and the destination never needs re-seeding: after a correct
    operation it mirrors the source again, with mtimes preserved.
    """

    def __init__(self, work_dir: str, seed: int):
        self.src = os.path.join(work_dir, "src")
        self.dst = os.path.join(work_dir, "dst")
        self.rng = random.Random(seed)
        make_small_tree(self.src, self.rng)
        shutil.copytree(self.src, self.dst)  # copy2: mtimes preserved
        self.n_files, self.n_bytes = _count_tree(self.src)
        self.k = max(1, round(self.n_files * CHANGE_SHARE))
        self.round = 0
        self.deleted: list[str] = []
        self.untouched: dict[str, tuple[int, int]] = {}

    def prepare(self) -> None:
        files = sorted(
            os.path.relpath(os.path.join(d, f), self.src)
            for d, _, fs in os.walk(self.src)
            for f in fs
        )
        picked = self.rng.sample(files, 2 * self.k)
        appended, self.deleted = picked[: self.k], picked[self.k :]
        for rel in appended:
            with open(os.path.join(self.src, rel), "ab") as f:
                f.write(self.rng.randbytes(self.rng.randint(1, 512)))
        for rel in self.deleted:
            os.remove(os.path.join(self.src, rel))
        leaves = _leaf_dirs(self.src)
        for i in range(self.k):
            path = os.path.join(
                self.rng.choice(leaves), f"n{self.round:03d}_{i:03d}.bin"
            )
            with open(path, "wb") as f:
                f.write(
                    self.rng.randbytes(
                        self.rng.randint(MIN_FILE_BYTES, MAX_FILE_BYTES)
                    )
                )
        self.round += 1
        # Files the operation must leave alone: not rewritten (same
        # inode) and mtime kept.
        changed = set(picked)
        self.untouched = {}
        for rel in files:
            if rel not in changed:
                st = os.stat(os.path.join(self.dst, rel))
                self.untouched[rel] = (st.st_ino, st.st_mtime_ns)

    def run(self, ctx) -> dict:
        from distcpplus_spark.plans.copy_plan import CopyOptions

        opts = CopyOptions(update=True, delete=True, preserve=frozenset("t"))
        return ctx.engine.copy([self.src], self.dst, opts)

    def check(self, out: dict) -> list[str]:
        errors = _check_counters(
            out,
            {
                "COPY": 2 * self.k,
                "FAIL": 0,
                "RECORDSKIPPED": self.n_files - 2 * self.k,
            },
        )
        errors += [
            f"not deleted: {rel}"
            for rel in self.deleted
            if os.path.exists(os.path.join(self.dst, rel))
        ]
        for rel, before in self.untouched.items():
            try:
                st = os.stat(os.path.join(self.dst, rel))
            except FileNotFoundError:
                errors.append(f"unchanged file removed: {rel}")
                continue
            if (st.st_ino, st.st_mtime_ns) != before:
                errors.append(f"unchanged file rewritten: {rel}")
        return errors[:10] + compare_trees(self.src, self.dst)


class AnalyticsHeadline:
    """One pass over ``bench.HEADLINE`` (15 queries) at sf0.1, every
    result checked against the query's DuckDB oracle."""

    SF = 0.1

    def __init__(self, work_dir: str, seed: int):
        import duckdb
        import gen_fixture  # tools/gen_fixture.py
        from verify_oracle import canon_rows  # tools/verify_oracle.py

        import __spark_entry__
        import bench

        self.names = list(bench.HEADLINE)
        self.sf_dir = os.path.join(work_dir, f"sf{self.SF}")
        # gen() reads its seed from this module constant.
        gen_fixture.SEED = seed
        gen_fixture.gen(self.SF, self.sf_dir)
        parquet = [f for f in os.listdir(self.sf_dir) if f.endswith(".parquet")]
        self.n_files = len(parquet)
        self.n_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in parquet
        )
        self.queries = __spark_entry__.queries()
        self.canon_rows = canon_rows
        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute("SET memory_limit='1GB'")
            con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
            for f in parquet:
                table = f[: -len(".parquet")]
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, f)}'"
                )
            self.expected = {}
            for name in self.names:
                res = con.execute(oracle[name])
                cols = [d[0] for d in res.description]
                self.expected[name] = canon_rows(cols, res.fetchall())
        finally:
            con.close()

    def prepare(self) -> None:
        pass

    def run(self, ctx) -> dict:
        results = {}
        for name in self.names:
            with ctx.span(f"queries.{name}"):
                df = self.queries[name](ctx.spark, self.sf_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
        return results

    def check(self, out: dict) -> list[str]:
        errors = []
        for name in self.names:
            cols, rows = out[name]
            if self.canon_rows(cols, rows) != self.expected[name]:
                errors.append(f"{name}: result differs from the DuckDB oracle")
        return errors


WORKLOADS = {
    "sync_update_delete": SyncUpdateDelete,
    "analytics_headline": AnalyticsHeadline,
}
