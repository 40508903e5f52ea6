"""north_rule launch mode, multi-executor form: the pipeline must run via
``spark-submit --py-files`` against a real cluster manager. local[N]
(test_spark_submit.py) exercises the submit path single-JVM; this test
launches an actual standalone master + 2-core worker (separate JVMs, the
pip pyspark deploy classes — tools/cluster_harness.py), submits from a
NEUTRAL cwd so the package can only import from the zip, and checks the
executor JVM really ran the job (pairs scored + clusters written).

This test keeps the mechanism from regressing (session.py
SPARK_GRAFT_MASTER wiring, driver-host binding, python-worker spawn on an
executor that imports only from --py-files).
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from cluster_harness import SPARK_CLASS, SPARK_SUBMIT, StandaloneCluster  # noqa: E402


@pytest.mark.skipif(not os.path.exists(SPARK_CLASS), reason="no spark-class")
def test_spark_submit_standalone_executor(tmp_path):
    zip_path = str(tmp_path / "identity_matching_spark.zip")
    subprocess.run(
        ["bash", os.path.join(REPO, "tools", "make_pyfiles.sh"), zip_path],
        check=True, capture_output=True,
    )
    out = str(tmp_path / "out")
    with StandaloneCluster(n_workers=1, cores_per_worker=2,
                           worker_memory="3g", pin=False,
                           log_dir=str(tmp_path / "cluster-logs")) as cluster:
        r = subprocess.run(
            [SPARK_SUBMIT, "--master", cluster.master_url,
             "--deploy-mode", "client",
             "--conf", "spark.driver.host=127.0.0.1",
             "--conf", "spark.executor.memory=2g",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--py-files", zip_path,
             os.path.join(REPO, "tools", "run_linkage.py"),
             "--input", "synthetic:50", "--output", out, "--no-fuzzy"],
            capture_output=True, text=True, timeout=420,
            cwd=str(tmp_path),  # neutral cwd: package import must come from the zip
            env=dict(os.environ, PYSPARK_PYTHON=sys.executable),
        )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON summary\nstdout:\n{r.stdout[-2000:]}\nstderr:\n{r.stderr[-2000:]}"
    summary = json.loads(lines[-1])
    assert summary["pairs_scored"] > 0 and summary["n_clusters"] > 0
    assert os.path.exists(os.path.join(out, "clusters", "_SUCCESS"))
    # the work really happened on the worker's executor JVM, not in-process:
    # the worker registered an executor for this app in its log
    logs = (tmp_path / "cluster-logs" / "worker0.log").read_text()
    assert "ExecutorRunner" in logs  # worker spawned an executor process
