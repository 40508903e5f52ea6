"""The session's driver-memory default must fit the host it runs on."""

import os

import pytest

from identity_matching_spark.session import driver_memory


def _mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return kb * 1024


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no /proc/meminfo")
def test_default_driver_memory_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    mem = driver_memory()
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= 24
    assert int(mem[:-1]) * 2**30 <= _mem_total_bytes()


def test_explicit_driver_memory_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
