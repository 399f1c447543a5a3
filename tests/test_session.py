"""Session defaults come from the host when the env leaves them unset:
the core count from the affinity mask, the driver heap from the
machine's memory. Checked on the resolvers, without a second JVM."""

from __future__ import annotations

import os

import pytest

from xdan_dqa_spark.session import driver_memory, host_cpus


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal line")


def test_cpus_default_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert host_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no /proc/meminfo")
def test_driver_memory_default_fits_under_mem_total(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert 0 < mb < _mem_total_mb()
    assert mb <= 16 * 1024
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"
