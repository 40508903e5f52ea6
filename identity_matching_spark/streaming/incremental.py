"""Incremental processing (the reference's change-driven MDM analog).

The reference links records incrementally off resource-change subscription
channels (MdmConfig.java:24 MdmConsumerConfig; SURVEY.md §2.9) and
re-links in batch jobs. Snapshot-batch equivalent here:

* ``new_since`` — anti-join the current corpus against the processed-
  lineage table: only rows whose record_id has not been processed flow
  into the pipeline (Iceberg-snapshot incremental read stand-in).
* ``incremental_link`` — link NEW records against themselves AND against
  the existing corpus via the same blocking families, then merge the new
  edges into the persisted edge set; connected components re-runs on the
  merged edges (cheap: |edges| << |corpus|), so cluster ids stay the
  deterministic min-record_id representatives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.blocking import blocking_keys
from identity_matching_spark.operators.compare import compare_pairs
from identity_matching_spark.operators.grade import grade_pairs


def new_since(records: DataFrame, processed_ids: DataFrame) -> DataFrame:
    """records not yet in processed_ids(record_id) — left anti join."""
    return records.join(processed_ids.select("record_id"), "record_id", "left_anti")


def incremental_pairs(
    all_records: DataFrame, new_records: DataFrame, config: MatchConfig
) -> DataFrame:
    """Candidate pairs ``(left_id, right_id, left_didx, right_didx)``
    touching at least one NEW record; ``all_records`` carries the dense ids
    of ``normalize.with_dense_ids``.

    Blocking keys are computed for the full corpus (cheap projection), but
    the pair join is new-keys × all-keys — linear in the delta, not
    quadratic in the corpus.
    """
    all_keyed = blocking_keys(all_records, config)
    new_ids = new_records.select("record_id")
    new_keyed = all_keyed.join(new_ids, "record_id", "left_semi")
    l = new_keyed.select("blocking_key", F.col("record_id").alias("_a"),
                         F.col("didx").alias("_ad"))
    r = all_keyed.select("blocking_key", F.col("record_id").alias("_b"),
                         F.col("didx").alias("_bd"))
    return (
        l.join(r, "blocking_key")
        .filter(F.col("_a") != F.col("_b"))
        # didx is the rank of record_id: least/greatest pick the same side
        .select(
            F.least("_a", "_b").alias("left_id"),
            F.greatest("_a", "_b").alias("right_id"),
            F.least("_ad", "_bd").alias("left_didx"),
            F.greatest("_ad", "_bd").alias("right_didx"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )


def incremental_score(
    all_records: DataFrame,
    new_records: DataFrame,
    config: MatchConfig,
    n_records: int | None = None,
) -> DataFrame:
    """Score only the delta pairs — the event-driven MDM re-link analog.

    ``n_records``: the row count of ``all_records`` when the caller holds
    it; up to the ``BROADCAST_ROWS`` limit in ``identity_matching_spark.config``
    the records side is then broadcast. None (unknown) shuffle-hashes it
    rather than counting."""
    pairs = incremental_pairs(all_records, new_records, config)
    return grade_pairs(compare_pairs(pairs, all_records, n_records)).drop(
        "left_didx", "right_didx"
    )
