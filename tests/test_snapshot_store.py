"""SnapshotStore bookkeeping: per-partition metrics and the lineage log
are read without Spark jobs (parquet footers, a fixed lineage schema)."""

import os

from pyspark.sql import functions as F

from identity_matching_spark.sources.snapshots import SnapshotStore


def test_partition_metrics_and_lineage_run_no_jobs(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    df = spark.range(0, 1000, 1, 5).select(F.col("id"), (F.col("id") % 7).alias("k"))
    store.write("stage", df)
    store.log_lineage("stage", rows_out=1000, n_partitions=5, wall_sec=0.1,
                      partitions=[{"file": "f", "rows": 1000, "bytes": 1}])

    sc = spark.sparkContext
    group = "snapshot-bookkeeping"
    sc.setJobGroup(group, group)
    try:
        parts = store.partition_metrics("stage")
        lineage = store.lineage()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []

    per_file = {
        os.path.basename(r["f"].split("?")[0]): r["count"]
        for r in store.read("stage").groupBy(F.input_file_name().alias("f")).count().collect()
    }
    assert {p["file"]: p["rows"] for p in parts} == per_file
    assert sum(p["rows"] for p in parts) == df.count()
    for p in parts:
        assert p["bytes"] == os.path.getsize(tmp_path / "snap" / "stage" / p["file"])

    row = lineage.collect()[0]
    assert (row["stage"], row["rows_out"], row["n_partitions"]) == ("stage", 1000, 5)
    assert row["partitions"][0]["rows"] == 1000
