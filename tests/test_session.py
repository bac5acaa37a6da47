"""Session defaults, checked without starting a JVM."""

from __future__ import annotations

import types

import pytest

from build_datawarehouse_demo_spark import session


class _Builder:
    """Records the conf get_spark sets instead of building a session."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None))


def _driver_memory_conf(monkeypatch, phys_bytes: int) -> str:
    builder = _Builder()
    fake = types.SimpleNamespace(builder=builder, getActiveSession=lambda: None)
    monkeypatch.setattr(session, "SparkSession", fake)
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    session.get_spark()
    return builder.conf["spark.driver.memory"]


@pytest.mark.parametrize(
    "host_gib, heap", [(4, "2048m"), (15.7, "8038m"), (16, "8192m"), (32, "16384m"), (256, "16384m")]
)
def test_driver_heap_defaults_to_half_the_host_capped_at_16g(monkeypatch, host_gib, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert _driver_memory_conf(monkeypatch, int(host_gib * 2**30)) == heap


def test_driver_heap_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory_conf(monkeypatch, 16 * 2**30) == "3g"
