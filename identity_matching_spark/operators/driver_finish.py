"""Driver finish for small relations.

Several relations on the linkage path are tiny next to the record and pair
streams: the dense-id map, the phonetic dictionaries, the distinct-stem
Jaro-Winkler table, blocking's guard keys and the tail of connected
components' edge set. Computing one of them as a Spark plan costs a
handful of jobs (and, for the Python encoders, a cold pandas-UDF worker)
over a few hundred rows. At or below its limit (``fits``:
``config.DRIVER_FINISH_ROWS`` rows, ``config.DRIVER_FINISH_EDGES`` for
the edge set, both measured crossovers) each is collected once, finished
with the plain Python functions and handed back as a local relation,
which the consumers broadcast. The dense-id map and the phonetic
dictionaries of the pipeline's records stage share one collect
(``normalize.with_dense_ids(phonetic=True)``) and one local relation.
Above the limit the callers keep their distributed plans.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from identity_matching_spark import config


def fits(n_rows: int, edges: bool = False) -> bool:
    """Whether a relation of ``n_rows`` rows (CC edges when ``edges``) is
    finished on the driver."""
    return n_rows <= (config.DRIVER_FINISH_EDGES if edges else config.DRIVER_FINISH_ROWS)


def persist_owned(df: DataFrame) -> DataFrame | None:
    """Persist ``df`` unless a cache of its plan already exists. Returns
    ``df`` when this call cached it, for the caller to unpersist when
    done; None when the cache belongs to someone else, whose cache an
    unpersist would drop."""
    level = df.storageLevel
    if level.useMemory or level.useDisk or level.useOffHeap:
        return None
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def collect_small(df: DataFrame) -> tuple[list | None, DataFrame | None]:
    """``(rows, None)`` when ``df`` fits the driver, else ``(None, cache)``.

    ``df`` is persisted before its one ``limit(L+1)`` collect, so the
    distributed path above the limit reads ``df`` from the cache the
    collect filled instead of running its plan again. ``cache`` is that
    cached frame, for the caller to unpersist when done; None when ``df``
    was already cached before the call (its owner keeps it). Below the
    limit a cache made here is dropped at once, so nothing stays pinned."""
    owned = persist_owned(df)
    rows = df.limit(config.DRIVER_FINISH_ROWS + 1).collect()
    if fits(len(rows)):
        if owned is not None:
            owned.unpersist()
        return rows, None
    return None, owned


def local_relation(
    spark: SparkSession, columns: dict[str, list], schema: str | StructType
) -> DataFrame:
    """A LocalRelation over driver-side column lists (names and order as in
    ``schema``). The rows reach the JVM as one Arrow batch: no job runs to
    build it and no Python worker starts."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)
