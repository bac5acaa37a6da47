"""Session defaults, checked without starting a JVM, and the block
seam's unpersist, checked in a child process."""

from __future__ import annotations

import os
import subprocess
import sys
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


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: frees a scope's hidden block and a superseded state's block, then
#: prints how many RDDs stay persisted
_FREE_PROBE = r"""
from build_datawarehouse_demo_spark.plans.training_data import retire_superseded_state
from build_datawarehouse_demo_spark.session import block_scope, get_spark, materialize

spark = get_spark("free_blocks_probe", master="local[1]", shuffle_partitions=1)
df = spark.range(8)


@block_scope
def build():
    materialize(df.selectExpr("id * 2 AS x"))
    return {"kept": materialize(df.selectExpr("id * 3 AS x"))}


state = build()
retire_superseded_state(state, {})
print("persisted", len(spark.sparkContext._jsc.getPersistentRDDs()))
spark.stop()
"""


def test_freeing_checkpoint_blocks_logs_no_lineage_warning():
    """The block scope and the retire step free local-checkpoint blocks
    without RDD.unpersist's one warning line per block (``RDD <n> was
    locally checkpointed, its lineage has been truncated ...``)."""
    out = subprocess.run(
        [sys.executable, "-c", _FREE_PROBE],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "persisted 0" in out.stdout, out.stdout
    assert "was locally checkpointed" not in out.stderr, out.stderr[-2000:]
