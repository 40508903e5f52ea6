"""Local standalone Spark cluster: real master + worker + executor JVMs.

Everything else in this repo runs local[N] — one JVM, threads as the
parallelism unit. The BASELINE.json north rule, however, is phrased in
EXECUTORS ("spark-submit --py-files ... at N and 4N executors"), and a
single-JVM thread sweep leaves two cluster-only mechanisms unexercised:
executor-to-executor shuffle over netty (local[N] short-circuits it
in-process) and per-executor python-worker pools. PySpark's pip
distribution ships the full standalone deploy classes, so this harness
launches a REAL cluster on localhost:

    master  = org.apache.spark.deploy.master.Master   (JVM 1)
    workers = org.apache.spark.deploy.worker.Worker   (JVM per worker,
              -c CORES_PER_WORKER, one executor JVM spawned per worker)

`StandaloneCluster(n_workers=4)` yields a spark:// URL; sessions built
with SPARK_GRAFT_MASTER pointed at it (identity_matching_spark.session)
or `spark-submit --master` runs against it unchanged. Workers are
taskset-pinned to disjoint 2-core slices (worker i -> cores 2i,2i+1) so
"4 workers" really means 8 distinct cores, and executor + python-udf
processes inherit the slice — the same pinning discipline as
taskset-pinned local-mode runs. The master and the
driver stay unpinned: on a real cluster they are separate nodes, and
keeping their (small, equal at both widths) overhead off the executor
cores keeps the N vs 4N ratio an executor-scaling measurement.

Used by tests/test_standalone_cluster.py (launch-mode integration test).
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import tempfile
import time

import pyspark

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
SPARK_SUBMIT = os.path.join(SPARK_HOME, "bin", "spark-submit")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_for(path: str, needle: str, timeout: float, proc: subprocess.Popen,
              what: str) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if proc.poll() is not None:
            tail = open(path).read()[-2000:] if os.path.exists(path) else ""
            raise RuntimeError(f"{what} exited rc={proc.returncode}: {tail}")
        if os.path.exists(path) and needle in open(path).read():
            return
        time.sleep(0.5)
    raise RuntimeError(f"{what}: '{needle}' not seen within {timeout}s")


class StandaloneCluster:
    """Context manager owning one master + ``n_workers`` worker JVMs."""

    def __init__(
        self,
        n_workers: int,
        cores_per_worker: int = 2,
        worker_memory: str = "6g",
        pin: bool = True,
        log_dir: str | None = None,
    ):
        self.n_workers = n_workers
        self.cores_per_worker = cores_per_worker
        self.worker_memory = worker_memory
        self.pin = pin and shutil.which("taskset") is not None
        self.log_dir = log_dir
        self._procs: list[subprocess.Popen] = []
        self._logs: list = []  # log files the JVMs write to, closed on exit
        self._tmp: tempfile.TemporaryDirectory | None = None
        self.master_url: str | None = None

    def __enter__(self) -> "StandaloneCluster":
        try:
            self._start()
        except BaseException:
            self.__exit__(None, None, None)  # stop the JVMs already launched
            raise
        return self

    def _launch(self, cmd: list[str], log: str, env: dict) -> subprocess.Popen:
        fh = open(log, "w")
        self._logs.append(fh)
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        self._procs.append(proc)
        return proc

    def _start(self) -> None:
        self._tmp = tempfile.TemporaryDirectory(prefix="ims_cluster_")
        base = self.log_dir or self._tmp.name
        os.makedirs(base, exist_ok=True)
        env = dict(
            os.environ,
            SPARK_HOME=SPARK_HOME,
            SPARK_LOCAL_IP="127.0.0.1",
            SPARK_LOG_DIR=base,
            SPARK_WORKER_DIR=os.path.join(self._tmp.name, "work"),
            SPARK_NO_DAEMONIZE="1",
        )
        port = _free_port()
        self.master_url = f"spark://127.0.0.1:{port}"
        mlog = os.path.join(base, "master.log")
        master = self._launch(
            [SPARK_CLASS, "org.apache.spark.deploy.master.Master",
             "-h", "127.0.0.1", "-p", str(port), "--webui-port", "0"],
            mlog, env,
        )
        _wait_for(mlog, "I have been elected leader", 60, master, "master")
        for i in range(self.n_workers):
            wlog = os.path.join(base, f"worker{i}.log")
            cmd = [SPARK_CLASS, "org.apache.spark.deploy.worker.Worker",
                   self.master_url, "-c", str(self.cores_per_worker),
                   "-m", self.worker_memory, "-h", "127.0.0.1",
                   "--webui-port", "0"]
            if self.pin:
                lo = i * self.cores_per_worker
                hi = lo + self.cores_per_worker - 1
                cmd = ["taskset", "-c", f"{lo}-{hi}"] + cmd
            self._launch(cmd, wlog, env)
        for i in range(self.n_workers):
            _wait_for(os.path.join(base, f"worker{i}.log"),
                      "Successfully registered", 60,
                      self._procs[i + 1], f"worker{i}")

    def __exit__(self, *exc) -> None:
        for p in reversed(self._procs):
            p.terminate()
        for p in self._procs:
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()
        self._procs.clear()
        for fh in self._logs:
            fh.close()
        self._logs.clear()
        if self._tmp is not None:
            self._tmp.cleanup()
            self._tmp = None
