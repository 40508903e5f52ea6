"""Snapshot store: parquet-backed stage checkpoints + lineage table.

Stand-in for Iceberg table snapshots (reference analog: the Batch2 job
checkpointing surface, web/JobController.java:15-41, and HAPI's persistent
store). No Iceberg jars ship in this sandbox, so the store isolates the
persistence contract — ``write/read/has`` per named stage plus an
append-only lineage log — behind one class; an Iceberg deployment swaps
``df.write.parquet`` for ``df.writeTo(ns.stage).createOrReplace()`` and
``log_lineage`` for snapshot metadata, nothing else changes.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

#: The lineage log's row shape (``log_lineage`` as the pipeline calls it),
#: fields in the name order JSON schema inference would give them.
LINEAGE_SCHEMA = (
    "n_partitions long, partitions array<struct<bytes: long, file: string, rows: long>>, "
    "rows_out long, stage string, ts double, wall_sec double"
)


class SnapshotStore:
    """``table_format="parquet"`` (default) stores stages as parquet dirs
    under ``root``. ``table_format="iceberg"`` routes every stage through
    the DataFrameWriterV2 catalog API instead —
    ``df.writeTo(f"{namespace}.{stage}").using("iceberg").createOrReplace()``
    — which is the complete Iceberg integration apart from the jars this
    sandbox lacks (contract pinned by tests/test_iceberg_seam.py)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        table_format: str = "parquet",
        namespace: str = "linkage",
    ):
        self.spark = spark
        self.root = root
        self.table_format = table_format
        self.namespace = namespace
        os.makedirs(root, exist_ok=True)
        # not underscore-prefixed: Spark's file index skips _metadata-style
        # names, and spark.read.json must be able to see this file
        self._lineage_path = os.path.join(root, "lineage-log.jsonl")

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _table(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def has(self, name: str) -> bool:
        if self.table_format == "iceberg":
            return self.spark.catalog.tableExists(self._table(name))
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def write(self, name: str, df: DataFrame) -> None:
        if self.table_format == "iceberg":
            df.writeTo(self._table(name)).using("iceberg").createOrReplace()
            return
        df.write.mode("overwrite").parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.read.table(self._table(name))
        return self.spark.read.parquet(self._path(name))

    def count(self, name: str) -> int:
        return self.read(name).count()

    def partition_metrics(self, name: str) -> list[dict]:
        """Per-partition metrics for a written stage (north_rule: resumable
        with per-partition lineage + metrics): one entry per non-empty
        part-file with its row count and on-disk bytes. O(n_files) driver
        rows — never row data. Parquet mode reads each row count from the
        file's footer with pyarrow, so no Spark job runs; Iceberg mode
        groups a scan by ``input_file_name``."""
        if self.table_format == "iceberg":
            from pyspark.sql import functions as F

            per = self.read(name).groupBy(F.input_file_name().alias("f")).count().collect()
            files = [(r["f"].replace("file://", "").split("?")[0], r["count"]) for r in per]
        else:
            import pyarrow.parquet as pq

            root = self._path(name)
            paths = [os.path.join(root, f) for f in os.listdir(root) if not f.startswith((".", "_"))]
            files = [(p, pq.ParquetFile(p).metadata.num_rows) for p in paths]
        out = [
            {
                "file": os.path.basename(path),
                "rows": rows,
                "bytes": os.path.getsize(path) if os.path.exists(path) else None,
            }
            for path, rows in files
            if rows
        ]
        return sorted(out, key=lambda d: d["file"])

    # --- Iceberg snapshot surface (executes only with the runtime jar) ---

    def snapshots(self, name: str) -> list[dict]:
        """Committed snapshots of a stage, oldest first — (snapshot_id,
        committed_at, operation). Iceberg mode reads the table's
        ``.snapshots`` metadata relation; parquet mode has exactly one
        implicit snapshot per overwrite, synthesized from the _SUCCESS
        mtime so callers can code against one shape."""
        if self.table_format == "iceberg":
            rows = (
                self.spark.read.table(f"{self._table(name)}.snapshots")
                .orderBy("committed_at")
                .collect()
            )
            return [
                {
                    "snapshot_id": r["snapshot_id"],
                    "committed_at": r["committed_at"],
                    "operation": r["operation"],
                }
                for r in rows
            ]
        marker = os.path.join(self._path(name), "_SUCCESS")
        if not os.path.exists(marker):
            return []
        return [
            {
                "snapshot_id": int(os.path.getmtime(marker) * 1000),
                "committed_at": os.path.getmtime(marker),
                "operation": "overwrite",
            }
        ]

    def read_incremental(self, name: str, after_snapshot_id: int) -> DataFrame:
        """Rows appended AFTER the given snapshot — Iceberg's incremental
        scan (``start-snapshot-id`` exclusive, latest inclusive). This is
        the real replacement for the doc_id-cutoff simulation the engine
        uses on plain parquet (queries.py q_incremental_*): a resumed
        pipeline reads only the delta since its last processed snapshot.
        Iceberg-mode only — parquet dirs carry no row-level history."""
        if self.table_format != "iceberg":
            raise NotImplementedError(
                "incremental snapshot reads need table_format='iceberg' "
                "(parquet overwrites keep no history); the parquet engine "
                "path simulates deltas with monotonic-id cutoffs instead"
            )
        return (
            self.spark.read.format("iceberg")
            .option("start-snapshot-id", str(after_snapshot_id))
            .load(self._table(name))
        )

    def append(self, name: str, df: DataFrame) -> None:
        """Append a delta to an existing stage (Iceberg: a new snapshot;
        parquet: an append write)."""
        if self.table_format == "iceberg":
            df.writeTo(self._table(name)).append()
            return
        df.write.mode("append").parquet(self._path(name))

    def log_lineage(self, stage: str, **metrics) -> None:
        row = {"stage": stage, "ts": time.time(), **metrics}
        with open(self._lineage_path, "a") as fh:
            fh.write(json.dumps(row) + "\n")

    def rows_out(self, stage: str) -> int | None:
        """``rows_out`` of the stage's latest lineage row, read straight
        from the log file (no Spark job); None when no row was logged."""
        if not os.path.exists(self._lineage_path):
            return None
        rows = None
        with open(self._lineage_path) as fh:
            for line in fh:
                row = json.loads(line)
                if row.get("stage") == stage:
                    rows = row.get("rows_out")
        return rows

    def lineage(self) -> DataFrame | None:
        """The lineage log as a DataFrame, read with its fixed schema (no
        schema-inference job)."""
        if not os.path.exists(self._lineage_path):
            return None
        return self.spark.read.schema(LINEAGE_SCHEMA).json(self._lineage_path)
