"""Shows that the sync_update_delete output check catches a wrong
destination. No Spark: a correct mirror is made in Python, then broken
one way at a time; the check must pass the correct one and flag each
broken one.

Usage (from the repository root): python3 perfbench/checker_selftest.py
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

from workloads import SyncUpdateDelete, tree_manifest

WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".perfbench_work",
    "selftest",
)


def mirror(wl: SyncUpdateDelete) -> dict:
    """What a correct ``-update -delete -pt`` does, and its counters."""
    want, got = tree_manifest(wl.src), tree_manifest(wl.dst)
    copied = 0
    for rel, meta in want.items():
        if meta is not None and got.get(rel) != meta:
            shutil.copy2(os.path.join(wl.src, rel), os.path.join(wl.dst, rel))
            copied += 1
    for rel in got.keys() - want.keys():
        os.remove(os.path.join(wl.dst, rel))
    return {"COPY": copied, "FAIL": 0, "RECORDSKIPPED": wl.n_files - copied}


def corrupt_byte(wl, out):
    # Same inode, size and mtime: only the content digest shows it.
    path = os.path.join(wl.dst, sorted(wl.untouched)[0])
    st = os.stat(path)
    with open(path, "r+b") as f:
        first = f.read(1)
        f.seek(0)
        f.write(bytes([first[0] ^ 0xFF]))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    return out


def drop_file(wl, out):
    os.remove(os.path.join(wl.dst, sorted(wl.untouched)[1]))
    return out


def keep_deleted(wl, out):
    path = os.path.join(wl.dst, wl.deleted[0])
    with open(path, "wb") as f:
        f.write(b"left behind")
    return out


def rewrite_unchanged(wl, out):
    # Same bytes and mtime, new inode: a needless copy of an unchanged
    # file that only the inode shows.
    path = os.path.join(wl.dst, sorted(wl.untouched)[2])
    shutil.copy2(path, path + ".new")
    os.replace(path + ".new", path)
    return out


def full_recopy(wl, out):
    return {**out, "COPY": wl.n_files, "RECORDSKIPPED": 0}


def main() -> int:
    ok = True
    for breaker in (None, corrupt_byte, drop_file, keep_deleted,
                    rewrite_unchanged, full_recopy):
        shutil.rmtree(WORK, ignore_errors=True)
        wl = SyncUpdateDelete(WORK, seed=7)
        wl.prepare()
        out = mirror(wl)
        if breaker is not None:
            out = breaker(wl, out)
        errors = wl.check(out)
        name = breaker.__name__ if breaker else "correct mirror"
        expect_errors = breaker is not None
        passed = bool(errors) == expect_errors
        ok &= passed
        print(f"{'PASS' if passed else 'FAIL'} {name}: "
              f"{'; '.join(errors[:2]) if errors else 'no mismatch'}")
    shutil.rmtree(WORK, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(WORK))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
