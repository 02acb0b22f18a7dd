"""Crash-injection sweep for the CHUNKED copy
(operators/copier.py::execute_copy over a chunked plan) — the round-11
verdict asked for the same mechanical fault discipline the two commit
protocols already have (tests/test_txlog_crash.py for the OCC log,
tests/test_publish_crash.py for versioned publish).

A killed process is simulated by its DISK STATE (the
test_publish_crash mid-write precedent): we reconstruct exactly what
a run killed at each fault point leaves behind — using the plan's own
range rows and the production range writer (write_range) so the
debris is byte-faithful — then assert the invariants and re-run.

A chunked file's ranges are written in place into its one tmp file,
``_distcp_tmp_<run>/<relative>``; a publish pass per file verifies it
and renames it into place. Fault points:
  mid-phase1     — killed while ranges transfer: the tmp file is
                   short, or holed where a range never landed;
  between-phases — killed after ALL ranges landed, before the publish
                   renamed the file;
  pre-rename     — killed inside the publish's delete-then-rename over
                   a PREVIOUS version: the old file is deleted, the
                   verified new bytes exist only under tmp;
  update-rerun   — killed mid-transfer over a dst that already holds
                   the PREVIOUS version of the file (the P12 -update
                   case);
  drift-in-flight— not a kill: the source grows between planning and
                   execution, exercising the real executor-side
                   drift guard end-to-end.

Invariants after every fault (P10/P12 parity —
DefaultCopyFilesMapper.java's tmp+rename contract, re-expressed for
the chunked path):
  N (no partials): nothing chunk- or assembly-shaped is EVER visible
    under dst outside ``_distcp_tmp_*`` dirs; the destination file
    either does not exist or is the complete previous version;
  C (convergence): a rerun (fresh run_id, -update semantics)
    publishes the full correct bytes and leaves no debris of its own;
  I (isolation): the dead run's tmp dir never poisons the rerun —
    run_ids namespace the tmp trees.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from distcpplus_spark.engine import CopyOptions, DistCpPlusEngine
from distcpplus_spark.operators.copier import CopyFailedError, write_range

CHUNK = 256 * 1024
BIG = bytes(range(256)) * 8192  # 2 MiB position-dependent → 8 chunks
DEAD_RUN = "deadrun0"


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "big.bin").write_bytes(BIG)
    return d


@pytest.fixture
def dst(tmp_path):
    return str(tmp_path / "dst")


def _opts():
    # -update: stable layout across reruns (special-root rule) AND the
    # P12 incremental-rerun semantics under test
    return CopyOptions(chunk_bytes=CHUNK, update=True)


def _chunk_rows(spark, src, dst):
    """The plan's range rows for the fixture file."""
    plan = DistCpPlusEngine(spark).plan([str(src)], dst, _opts())
    return plan.copies.filter("n_chunks > 1").orderBy("chunk_idx").collect()


def _dead_tmp(dst):
    return os.path.join(dst, f"_distcp_tmp_{DEAD_RUN}")


def _plant_ranges(rows, dst, skip=()):
    """Write the dead run's ranges into its tmp file with the
    production range writer — byte-faithful debris, not hand-rolled
    approximations. Ranges in ``skip`` never landed."""
    tmp = _dead_tmp(dst)
    for r in rows:
        if r["chunk_idx"] not in skip:
            write_range(
                r["path"], os.path.join(tmp, r["relative_dst"]),
                r["offset"], r["chunk_len"],
            )
    return tmp


def assert_no_partials(dst, *complete):
    """Invariant N: every file a reader walking dst sees outside
    ``_distcp_tmp_*`` is one of the ``complete`` versions — a range
    debris file or a half-written copy is never visible."""
    whole = {hashlib.sha256(v).hexdigest() for v in complete}
    for dirpath, dirs, files in os.walk(dst):
        dirs[:] = [d for d in dirs if not d.startswith("_distcp_tmp_")]
        for f in files:
            path = os.path.join(dirpath, f)
            assert _sha(path) in whole, f"partial visible at dst: {path}"


def _sha(path):
    return hashlib.sha256(open(path, "rb").read()).hexdigest()


def _rerun_and_check(spark, src, dst, expect=BIG):
    stats = DistCpPlusEngine(spark).copy([str(src)], dst, _opts())
    assert stats["FAIL"] == 0 and stats["COPY"] >= 1
    got = os.path.join(dst, "big.bin")
    assert _sha(got) == hashlib.sha256(expect).hexdigest()
    assert_no_partials(dst, expect)
    # the rerun's own tmp dir is gone; only a dead run's may remain
    assert {
        d for d in os.listdir(dst) if d.startswith("_distcp_tmp_")
    } <= {os.path.basename(_dead_tmp(dst))}


# ---------------------------------------------------------------------------
# kill-state sweep: one test per fault point, shared invariants
# ---------------------------------------------------------------------------


def test_killed_mid_phase1(spark, src, dst):
    rows = _chunk_rows(spark, src, dst)
    assert len(rows) == 8
    os.makedirs(dst, exist_ok=True)
    # ranges 0-4 landed, range 4 only half: a short tmp file
    tmp = _plant_ranges(rows[:5], dst)
    with open(os.path.join(tmp, "big.bin"), "r+b") as f:
        f.truncate(rows[4]["offset"] + rows[4]["chunk_len"] // 2)
    # N: nothing published by the dead run
    assert not os.path.exists(os.path.join(dst, "big.bin"))
    assert_no_partials(dst)
    # C + I: rerun converges; the dead tmp neither helps nor hurts
    _rerun_and_check(spark, src, dst)


def test_killed_mid_phase1_with_hole(spark, src, dst):
    """Ranges land in any order: every range but one landed, so the
    dead tmp file has its full length and a hole of zeros."""
    rows = _chunk_rows(spark, src, dst)
    os.makedirs(dst, exist_ok=True)
    tmp = _plant_ranges(rows, dst, skip={2})
    assert os.path.getsize(os.path.join(tmp, "big.bin")) == len(BIG)
    assert not os.path.exists(os.path.join(dst, "big.bin"))
    assert_no_partials(dst)
    _rerun_and_check(spark, src, dst)


def test_killed_between_phases(spark, src, dst):
    """The verdict's named fault: ALL ranges written, the publish never
    ran: the complete bytes exist only under tmp. No partial is visible
    at dst and the rerun converges."""
    rows = _chunk_rows(spark, src, dst)
    os.makedirs(dst, exist_ok=True)
    tmp = _plant_ranges(rows, dst)
    assert open(os.path.join(tmp, "big.bin"), "rb").read() == BIG
    assert not os.path.exists(os.path.join(dst, "big.bin"))
    assert_no_partials(dst)
    _rerun_and_check(spark, src, dst)


def test_killed_pre_rename(spark, src, dst):
    """An -update over a previous version; the publish verified the tmp
    file, ran the delete of its delete-then-rename, and died before
    os.replace: the old version is gone and the correct bytes exist
    ONLY under tmp — still nothing partial is visible at dst."""
    os.makedirs(dst, exist_ok=True)
    old_path = os.path.join(dst, "big.bin")
    with open(old_path, "wb") as f:
        f.write(b"previous-version" * 1024)
    rows = _chunk_rows(spark, src, dst)
    tmp = _plant_ranges(rows, dst)
    assert open(os.path.join(tmp, "big.bin"), "rb").read() == BIG
    os.remove(old_path)
    assert not os.path.exists(old_path)
    assert_no_partials(dst)
    _rerun_and_check(spark, src, dst)


def test_killed_update_rerun_preserves_previous_version(spark, src, dst):
    """P12 parity: dst already holds the PREVIOUS version; an update
    run dies mid-transfer. Readers keep the old bytes intact until the
    rerun atomically publishes the new ones."""
    old = b"previous-version" * 1024
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(dst, "big.bin"), "wb") as f:
        f.write(old)
    rows = _chunk_rows(spark, src, dst)
    _plant_ranges(rows[:6], dst)
    # reader sees the complete old version, not a mix
    assert _sha(os.path.join(dst, "big.bin")) == hashlib.sha256(
        old
    ).hexdigest()
    assert_no_partials(dst, old)
    _rerun_and_check(spark, src, dst)


def test_dead_tmp_debris_survives_rerun_untouched(spark, src, dst):
    """I: cleanup is namespaced by run_id — a rerun must not delete
    another run's tmp (it could be a concurrent LIVE run, not a dead
    one; reclaiming foreign tmp is an operator decision, not an
    automatic side effect)."""
    rows = _chunk_rows(spark, src, dst)
    os.makedirs(dst, exist_ok=True)
    tmp = _plant_ranges(rows[:3], dst)
    debris = os.path.join(tmp, "big.bin")
    before = (sorted(os.listdir(tmp)), _sha(debris))
    _rerun_and_check(spark, src, dst)
    assert os.path.isdir(tmp)
    assert (sorted(os.listdir(tmp)), _sha(debris)) == before


# ---------------------------------------------------------------------------
# live in-flight fault through the real executor-side guard
# ---------------------------------------------------------------------------


def test_source_drift_between_plan_and_execute(spark, src, dst):
    """Not a kill: the source GROWS after planning. The publish's
    re-stat guard must fail the file (publishing the planned ranges
    would truncate it), publish nothing, and the job gate must raise;
    a fresh plan then copies the grown bytes."""
    engine = DistCpPlusEngine(spark)
    plan = engine.plan([str(src)], dst, _opts())
    grown = BIG + b"late-appended-bytes" * 100
    (src / "big.bin").write_bytes(grown)
    with pytest.raises(CopyFailedError):
        engine.execute(plan)
    assert not os.path.exists(os.path.join(dst, "big.bin"))
    assert_no_partials(dst)
    _rerun_and_check(spark, src, dst, expect=grown)
