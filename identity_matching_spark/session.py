"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join backstop), Arrow on (all Python crossings
are batched), shuffle partitions sized to parallelism rather than the
200 default, UTC session timezone so results compare bit-exactly with
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """Driver heap size: ``SPARK_DRIVER_MEMORY`` when set, else 40% of the
    host's MemTotal, capped at 24g. The driver JVM (heap plus off-heap) and
    the Python workers must fit in RAM together; a fixed 24g heap is
    OOM-killed on a 16 GB host without swap."""
    explicit = os.environ.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "24g"  # no meminfo (non-Linux host): keep the cap
    return f"{max(1, min(24, int(kb * 0.4 / 2**20)))}g"


def default_cpus() -> int:
    """Local-mode cores: ``SPARK_GRAFT_CPUS`` when set, else the cores this
    process may run on (its CPU affinity mask, not the machine's count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def package_pythonpath() -> str:
    """Python workers' import path: the directory holding this package,
    ahead of any PYTHONPATH already set, so pandas UDFs defined in the
    package import from any working directory."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(p for p in (parent, os.environ.get("PYTHONPATH")) if p)


def build_session(
    app_name: str = "identity_matching_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # 2x cores: finer tasks even out stragglers; AQE re-coalesces
        # anything that ends up too small.
        shuffle_partitions = max(2 * cpus, 16)
    # Shuffle/spill local dirs: honor SPARK_GRAFT_LOCAL_DIR when set.
    # bench.py points this at tmpfs (/dev/shm) — on this sandbox /tmp is a
    # shared virtual disk whose writeback throughput swings with co-tenant
    # load, which made the high-parallelism bench leg non-reproducible; a
    # real cluster writes shuffle to node-local NVMe. Tests and normal runs
    # keep Spark's default.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    # SPARK_GRAFT_MASTER switches the SAME session (and therefore the same
    # bench/pipeline code) onto a real cluster manager — e.g. the
    # standalone master a tools/cluster_harness.py launch exposes as
    # spark://host:port. Under spark-submit the JVM gateway is pre-started
    # (PYSPARK_GATEWAY_PORT) and --master already decided the cluster —
    # calling .master() there would silently override it back to local
    # (the first run of test_standalone_cluster.py caught exactly that:
    # job green, zero executors launched). local[cpus] stays the default
    # for tests and the single-JVM bench; executor sizing only applies off
    # local mode (on a standalone cluster one executor per 2-core worker
    # mirrors the north-rule "N executors" unit).
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions to the target SIZE, not to the
        # cluster's parallelism: the pipeline's late stages (CC iterations
        # on a shrinking edge set, convergence signatures, singleton join)
        # shuffle a few MB — parallelismFirst=true re-expands those to
        # 2x-cores tasks whose scheduling overhead dominates their work,
        # which is exactly the fixed driver-phase cost that caps e2e
        # scaling on the bench (VERDICT r3 #2). Big shuffles are unaffected
        # (they exceed the advisory size at every width).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", package_pythonpath())
    )
    if master:
        builder = builder.master(master)
    if master and not master.startswith("local"):
        builder = (
            builder.config(
                "spark.executor.cores",
                os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "2"),
            )
            .config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY", "6g"),
            )
            # same-host standalone cluster: bind driver RPC to loopback so
            # executors always reach it regardless of hostname resolution
            .config("spark.driver.host", os.environ.get("SPARK_GRAFT_DRIVER_HOST", "127.0.0.1"))
        )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
