"""get_spark scratch selection: tmpfs/local scratch is opt-in via
SPARK_GRAFT_SCRATCH only — a roomy /dev/shm alone must not move shuffle,
staging or checkpoint files."""

import os
import tempfile

import pytest
from pyspark.sql import SparkSession

from dataflow_ordered_processing_spark.session import get_spark


class _Built(Exception):
    pass


def _builder_options(monkeypatch) -> dict:
    """Run get_spark up to getOrCreate and return the builder's options,
    without touching the live session."""
    captured: dict = {}

    def fake_get_or_create(self):
        captured.update(self._options)
        raise _Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    with pytest.raises(_Built):
        get_spark("scratch-probe", master="local[1]")
    return captured


def test_scratch_is_opt_in(monkeypatch, tmp_path):
    real_statvfs = os.statvfs

    class _Roomy:
        f_bavail = 64 * 1024**3 // 4096
        f_frsize = 4096

    monkeypatch.setattr(
        os, "statvfs", lambda p: _Roomy() if p == "/dev/shm" else real_statvfs(p)
    )
    monkeypatch.setattr(tempfile, "tempdir", None)

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    opts = _builder_options(monkeypatch)
    assert "spark.local.dir" not in opts
    assert tempfile.tempdir is None

    scratch = str(tmp_path / "scratch")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", scratch)
    opts = _builder_options(monkeypatch)
    assert opts["spark.local.dir"] == os.path.join(scratch, "local")
    assert tempfile.tempdir == scratch
