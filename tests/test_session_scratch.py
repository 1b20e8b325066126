"""scratch_root() guard rails (VERDICT r3 #6, ADVICE r3).

Pure-unit tests — no SparkSession. The contract under test:

* every returned root already contains a ``jvmtmp`` subdir, because
  ``get_spark`` sets ``-Djava.io.tmpdir=<root>/jvmtmp`` unconditionally
  and the JVM does not create its own tmpdir (ADVICE r3 medium: the old
  fallback branch skipped this and broke every driver temp-file write on
  hosts without /dev/shm);
* a low-headroom tmpfs candidate is skipped with a warning — tmpfs
  shuffle spill competes with executor memory in the same RAM budget
  (CLAUDE.md / VERDICT r3 watch item);
* an explicit ``SPARK_GRAFT_SCRATCH`` is honored without the free-space
  guard (the operator said so; probes on big disks need this).
"""

from __future__ import annotations

import os
import warnings

import pytest

from hive_plan_service_spark import session


def test_returned_root_always_has_jvmtmp(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    root = session.scratch_root()
    assert root == str(tmp_path / "hpss_scratch")
    assert os.path.isdir(os.path.join(root, "jvmtmp"))


def test_fallback_tempdir_also_has_jvmtmp(tmp_path, monkeypatch):
    # No explicit scratch, /dev/shm rejected by the guard -> system
    # tempdir fallback must still carry the jvmtmp layout.
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.setattr(session, "_free_bytes", lambda path: 0)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            root = session.scratch_root()
    finally:
        tempfile.tempdir = None
    assert root == str(tmp_path / "hpss_scratch")
    assert os.path.isdir(os.path.join(root, "jvmtmp"))


def test_low_headroom_tmpfs_is_skipped_with_warning(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.setattr(session, "_free_bytes", lambda path: 1024)
    if not os.path.isdir("/dev/shm"):
        pytest.skip("no /dev/shm on this host")
    with pytest.warns(UserWarning, match="falling back"):
        root = session.scratch_root()
    assert not root.startswith("/dev/shm")


def test_explicit_scratch_bypasses_free_space_guard(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    monkeypatch.setattr(session, "_free_bytes", lambda path: 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> failure
        root = session.scratch_root()
    assert root == str(tmp_path / "hpss_scratch")


def test_conf_overrides_parse(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_OVERRIDES",
        "spark.sql.adaptive.enabled=false; spark.sql.shuffle.partitions=7",
    )
    assert session.conf_overrides() == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
    }
    monkeypatch.delenv("SPARK_GRAFT_CONF_OVERRIDES")
    assert session.conf_overrides() == {}


def test_tune_applies_and_survives_reapplication(spark, monkeypatch):
    """The plan-variance gates depend on overrides surviving INTERNAL
    tune() calls (register_tables re-tunes on every invocation — a
    bare conf.set after session build was silently reset, r7)."""
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    orig_shuf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        monkeypatch.setenv(
            "SPARK_GRAFT_CONF_OVERRIDES",
            "spark.sql.adaptive.enabled=false;spark.sql.shuffle.partitions=7",
        )
        session.tune(spark)  # what driver_sim's startup does
        session.tune(spark)  # what register_tables does mid-sweep
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_CONF_OVERRIDES", raising=False)
        session.tune(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == orig_aqe
        assert spark.conf.get("spark.sql.shuffle.partitions") == orig_shuf


def test_tune_memo_keeps_out_of_band_conf_until_forced(spark):
    """The tune() memo contract: a tune-managed key set out of band
    (here the session time zone) survives a plain tune() under an
    unchanged override token — the memo skips re-application — and
    ``tune(spark, force=True)`` restores the engine value."""
    key = "spark.sql.session.timeZone"
    session.tune(spark, force=True)
    assert spark.conf.get(key) == "UTC"
    try:
        spark.conf.set(key, "America/New_York")
        session.tune(spark)
        assert spark.conf.get(key) == "America/New_York"
        session.tune(spark, force=True)
        assert spark.conf.get(key) == "UTC"
    finally:
        session.tune(spark, force=True)
