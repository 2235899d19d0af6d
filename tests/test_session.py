"""Session defaults: the driver heap ``get_spark`` asks for fits the host."""

from __future__ import annotations

import os

import pytest

from logicaldecoding_spark import session


def _mib(mem: str) -> int:
    """A Spark memory string ('8046m', '16g') in MiB."""
    units = {"m": 1, "g": 1 << 10}
    return int(mem[:-1]) * units[mem[-1].lower()]


def test_default_driver_memory_fits_physical_memory():
    phys_mib = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")) >> 20
    got = _mib(session.default_driver_memory())
    assert 0 < got <= min(16 << 10, phys_mib // 2)
    assert got < phys_mib


def test_driver_memory_env_override_wins(monkeypatch):
    """``SPARK_DRIVER_MEM`` still sets the heap; without it the default
    applies.  Spark's session factory is swapped for a recorder, so no JVM
    starts."""
    seen = {}

    class Recorder:
        def master(self, _v):
            return self

        def appName(self, _v):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before starting a JVM")

    monkeypatch.setattr(session.SparkSession, "builder", Recorder())
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    with pytest.raises(RuntimeError, match="before starting a JVM"):
        session.get_spark(cores=1)
    assert seen["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    with pytest.raises(RuntimeError, match="before starting a JVM"):
        session.get_spark(cores=1)
    assert seen["spark.driver.memory"] == session.default_driver_memory()
