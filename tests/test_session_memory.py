"""The session's defaults come from the host it runs on: driver memory
that fits, the cores this process may use, and a Python-worker import path
that does not depend on the working directory."""

import os
import subprocess
import sys
import textwrap

import pytest

from identity_matching_spark.session import default_cpus, driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_default_cpus_follow_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_pandas_udf_imports_package_from_any_cwd(tmp_path):
    """A pandas UDF defined in the package runs in a Python worker, which
    must import the package. The driver finds it through sys.path; the
    worker only through the session's executor PYTHONPATH, so the script
    runs from a neutral cwd with PYTHONPATH unset."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from identity_matching_spark.functions.phonetic import cologne_udf
        from identity_matching_spark.session import build_session

        spark = build_session("pythonpath-check", cpus=1, shuffle_partitions=1)
        print("code", spark.range(1).select(cologne_udf(F.lit("mueller"))).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "code 657" in r.stdout
