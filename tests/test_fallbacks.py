"""Best-effort paths fall back loudly: each failure is a WARNING on the
``rendler_spark`` logger naming the exception, and nothing raises."""

import logging

from rendler_spark.queries import _scan_units
from rendler_spark.session import _warm_engine


class _Context:
    def setJobDescription(self, desc):
        pass

    @property
    def defaultParallelism(self):
        raise RuntimeError("no executors registered")


class _Session:
    sparkContext = _Context()


def test_warmup_failure_is_logged(caplog):
    with caplog.at_level(logging.WARNING, logger="rendler_spark"):
        _warm_engine(_Session())
    (rec,) = caplog.records
    assert rec.name == "rendler_spark" and rec.levelno == logging.WARNING
    assert "warm-up failed" in rec.getMessage()
    assert "RuntimeError('no executors registered')" in rec.getMessage()


def test_scan_units_probe_failure_is_logged(caplog, tmp_path):
    missing = str(tmp_path / "no_such_sf")
    with caplog.at_level(logging.WARNING, logger="rendler_spark"):
        assert _scan_units(missing, "lineitem", cap=12) == 12
    (rec,) = caplog.records
    assert rec.name == "rendler_spark" and rec.levelno == logging.WARNING
    assert f"{missing}/lineitem.parquet" in rec.getMessage()
    assert "FileNotFoundError" in rec.getMessage()
