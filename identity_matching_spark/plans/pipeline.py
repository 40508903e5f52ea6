"""End-to-end linkage pipeline (the reference's $match + MDM lifecycle,
re-planned for batch: SURVEY.md §3.4) as ONE ordered stage list, SparkER's
blocking -> scoring -> clustering:

    records       normalize -> validation gate -> dense ids -> phonetic codes
    pairs         blocking: candidate pairs with didx twins (+ block_stats)
    scored_pairs  comparator flags -> grade (slim: match messages derived later)
    edges         scored pairs with score >= cluster_threshold
    clusters      connected components on didx -> record ids, incl. singletons

Every stage keys records on the dense ``didx`` that
``normalize.with_dense_ids`` assigns (the rank of record_id). The two run
modes differ only in how a stage is materialized (``_Stages.run``):

* in memory (no ``checkpoint_dir``): persist + a count barrier on the
  stages that feed several consumers; the others stay lazy;
* durable (``checkpoint_dir``): a ``SnapshotStore`` write, a lineage row
  with per-partition metrics (FIXTURES.md §4) and a read-back. With
  ``resume``, stages whose snapshot carries ``_SUCCESS`` are read back
  instead of rebuilt — up to the first stage that has to be rebuilt, after
  which every later stage is rebuilt too (north_rule resumability).

The records stage (``build_records``) evaluates the sha-heavy normalize +
validation-gate plan once: the gated relation is cached before its first
consumer and released as soon as the stage's barrier has read it.

The small relations along the way are finished on the driver below
``config.DRIVER_FINISH_ROWS`` (``operators/driver_finish.py``) and
returned as broadcast local relations, so the default path starts no
Python worker and pins no helper cache: the dense-id map and the phonetic
dictionaries from the records stage's one collect, blocking's guard keys
and the distinct-stem JW table from one collect each.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.blocking import candidate_pairs
from identity_matching_spark.operators.cluster import (
    clusters_with_singletons,
    connected_components,
)
from identity_matching_spark.operators.compare import compare_pairs
from identity_matching_spark.operators.driver_finish import persist_owned
from identity_matching_spark.operators.grade import grade_pairs
from identity_matching_spark.operators.normalize import normalize_files
from identity_matching_spark.operators.validate import validation_gate
from identity_matching_spark.sources.snapshots import SnapshotStore

STAGES = ("records", "pairs", "scored_pairs", "edges", "clusters")


@dataclass
class PipelineResult:
    records: DataFrame       # normalized attributes + didx (keeps content for invariant)
    pairs: DataFrame         # deduped candidate pairs with didx twins
    block_stats: DataFrame   # oversized/starred block report (never silent)
    scored_pairs: DataFrame  # flags + score + weight + verdict + match_messages
    edges: DataFrame         # (left_id, right_id) with score >= cluster_threshold
    clusters: DataFrame      # (record_id, cluster_id) incl. singletons
    lineage: DataFrame | None = None  # per-stage lineage rows; None in memory
    pinned: list = field(default_factory=list, repr=False)  # caches this run holds

    def cleanup(self) -> None:
        """Unpersist every cache this run pinned: the in-memory stage
        barriers (records, scored pairs, and pairs when fuzzy), blocking's
        key table and, only above ``config.DRIVER_FINISH_ROWS``, blocking's
        guard key set and the distinct-stem JW table (their
        driver-finished forms are local relations and pin nothing). The
        records stage's own caches are already gone: they are released at
        its barrier. Call after the outputs have been materialized;
        long-lived sessions otherwise accumulate cached blocks across
        runs."""
        for df in self.pinned:
            df.unpersist()
        self.pinned.clear()


def with_match_messages(scored_slim: DataFrame) -> DataFrame:
    """Insert the A3 ``match_messages`` column into a slim scored relation
    at the same position ``grade_pairs(..., with_messages=True)`` emits it
    (after ``verdict``, before ``verdict_phonetic``) so the two shapes are
    schema-identical."""
    from identity_matching_spark.operators.compare import match_messages_expr

    cols: list = []
    for c in scored_slim.columns:
        cols.append(F.col(c))
        if c == "verdict":
            cols.append(match_messages_expr().alias("match_messages"))
    return scored_slim.select(*cols)


class _Stages:
    """Materializes one stage at a time, in memory or durably."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None, resume: bool):
        self.store = SnapshotStore(spark, checkpoint_dir) if checkpoint_dir else None
        self.resume = resume
        self.rows: dict[str, int | None] = {}  # rows_out per stage, when known
        self.pinned: list[DataFrame] = []  # released by PipelineResult.cleanup
        # caches only the stage being built reads: released as soon as its
        # barrier count or snapshot write has read them
        self.spent: list[DataFrame] = []

    def pin(self, df: DataFrame | None) -> None:
        if df is not None:
            self.pinned.append(df)

    @staticmethod
    def _release(caches: list[DataFrame]) -> None:
        for df in caches:
            df.unpersist()
        caches.clear()

    def run(self, name: str, build, barrier: bool = True) -> DataFrame:
        store = self.store
        if store is None:
            df = build()
            if barrier:
                # EAGER materialization barrier. AQE submits every leaf
                # shuffle-map stage of a query CONCURRENTLY, so a chained
                # lazy flow has 8-16 stages all scanning a cold cache at t0
                # and each recomputing the expensive upstream
                # (normalize+phonetic, minhash keys) before any cache
                # partition is registered — measured ~1000 wasted
                # task-seconds at sf0.1. One count per multi-consumer stage
                # = each relation computed exactly once.
                self.pin(df.persist(StorageLevel.MEMORY_AND_DISK))
                self.rows[name] = df.count()
                self._release(self.spent)
            else:  # a lazy stage's consumers still read them
                self.pinned.extend(self.spent)
                self.spent.clear()
            return df
        if self.resume and store.has(name):
            self.rows[name] = store.rows_out(name)
            return store.read(name)
        # every later snapshot was built from what this stage replaces
        self.resume = False
        t0 = time.time()
        store.write(name, build())
        self._release(self.pinned)  # the stage's helper caches, now on disk
        self._release(self.spent)
        parts = store.partition_metrics(name)
        self.rows[name] = sum(p["rows"] for p in parts)
        store.log_lineage(
            name,
            rows_out=self.rows[name],
            n_partitions=len(parts),
            wall_sec=time.time() - t0,
            partitions=parts,
        )
        return store.read(name)

    def side(self, name: str, df: DataFrame) -> DataFrame:
        """A side output of the stage being built, stored next to it."""
        if self.store is None:
            return df
        self.store.write(name, df)
        return self.store.read(name)


def build_records(files: DataFrame, config: MatchConfig) -> tuple[DataFrame, list[DataFrame]]:
    """The records stage: normalize -> validation gate -> dense ids ->
    phonetic codes. Returns the records and the caches only this stage
    reads, for the caller to release once it has materialized them.

    The gated relation is persisted before its first consumer (unless a
    cache of the same plan already exists, which is then left to its
    owner), so the sha-heavy normalize + gate plan is compiled and run
    once: the dense-id collect fills the cache and the stage's barrier
    (count or snapshot write) reads it. Below ``config.DRIVER_FINISH_ROWS``
    that collect is the stage's only one: with fuzzy on it also carries
    the normalized name analogs, and the dense ids and the
    Cologne/Metaphone codes join back as one broadcast local relation.
    Above the limit the distributed dense-id and phonetic paths read the
    cached gated relation."""
    from identity_matching_spark.operators.normalize import with_dense_ids

    gated = validation_gate(normalize_files(files), config)
    gated_cache = persist_owned(gated)
    # Dense-id interning (broadcast join-back either way): every later
    # join keys on direct-address long maps instead of 64-char sha strings.
    records = with_dense_ids(
        gated, prefix_nibbles=config.dense_id_nibbles, phonetic=config.enable_fuzzy
    )
    spent = [gated_cache, getattr(records, "_dense_slim_cache", None)]
    if config.enable_fuzzy and "cologne_dir1" not in records.columns:
        from identity_matching_spark.operators.compare import enrich_phonetic

        records = enrich_phonetic(records)
        spent.append(records._phonetic_vocab_cache)
    return records, [df for df in spent if df is not None]


def run_pipeline(
    files: DataFrame,
    config: MatchConfig | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """Run the stage list over ``files``. With ``checkpoint_dir`` every
    stage is a snapshot plus a lineage row and ``resume`` skips completed
    stages; without it the outputs are cached relations (call
    ``PipelineResult.cleanup`` when done with them)."""
    config = config or MatchConfig()
    st = _Stages(files.sparkSession, checkpoint_dir, resume)

    def records_stage():
        records, spent = build_records(files, config)
        st.spent.extend(spent)
        return records

    # records feeds blocking, both compare sides and the cluster join-back:
    # materialize it so the whole records stage runs once, linearly,
    # before any pair fan-out.
    records = st.run("records", records_stage)
    stats: list[DataFrame] = []

    def build_pairs():
        b = candidate_pairs(records, config, n_records=st.rows["records"])
        st.pin(b.keyed_cache)
        st.pin(b.guard_cache)
        stats.append(st.side("block_stats", b.block_stats))
        return b.pairs

    # the fuzzy path consumes the pair list twice (slim jw_stem_table pass
    # + main attach), so in memory it is cached only then
    pairs = st.run("pairs", build_pairs, barrier=config.enable_fuzzy)
    # resumed pairs: block_stats was stored before them
    block_stats = stats[0] if stats else st.store.read("block_stats")

    def build_scored():
        if config.enable_fuzzy:
            from identity_matching_spark.operators.compare import compare_pairs_fuzzy

            flagged = compare_pairs_fuzzy(
                pairs, records, config, n_records=st.rows["records"]
            )
            st.pin(flagged.jw_stem_cache)
        else:
            flagged = compare_pairs(
                pairs, records, st.rows["records"], config.records_broadcast_limit
            )
        # The SLIM scored relation (flags + score/weight/verdicts + didx
        # twins) is what gets cached or stored; match_messages is a lazy
        # projection over it. The message array is a pure function of the
        # flag columns, so caching it would serialize ~0.5 KB of strings
        # per pair for data any consumer can recompute in-stream (measured
        # at sf0.1/local[16]: persist+count 105 s with messages vs 13 s).
        return grade_pairs(flagged, with_messages=False)

    scored = st.run("scored_pairs", build_scored)
    cc_dir = os.path.join(checkpoint_dir, "cc") if checkpoint_dir else None

    def build_edges():
        if cc_dir:  # a rebuilt edge set invalidates CC's iteration snapshots
            shutil.rmtree(cc_dir, ignore_errors=True)
        return scored.filter(F.col("score") >= F.lit(config.cluster_threshold)).select(
            "left_id", "right_id", "left_didx", "right_didx"
        )

    edges = st.run("edges", build_edges, barrier=False)

    def build_clusters():
        # CC over dense longs: every star iteration's groupBy/join and the
        # driver-finish collect move 16 B/edge instead of two 64-char ids.
        # Durable runs snapshot CC iterations under the checkpoint dir, so
        # a crash while a graph above DRIVER_FINISH_EDGES edges is still
        # iterating resumes from the last iteration.
        assignments = connected_components(
            edges.select(
                F.col("left_didx").alias("left_id"), F.col("right_didx").alias("right_id")
            ),
            config.with_(checkpoint_dir=cc_dir) if cc_dir else config,
        )
        return clusters_with_singletons(records, assignments, key="didx")

    clusters = st.run("clusters", build_clusters, barrier=False)
    return PipelineResult(
        records=records,
        pairs=pairs,
        block_stats=block_stats,
        # the exposed relation keeps the reference output schema: the didx
        # twins are an engine-internal key, pruned here
        scored_pairs=with_match_messages(scored.drop("left_didx", "right_didx")),
        edges=edges.select("left_id", "right_id"),
        clusters=clusters,
        lineage=st.store.lineage() if st.store else None,
        pinned=st.pinned,
    )


def verify_content_invariant(files: DataFrame, records: DataFrame) -> int:
    """Per-row invariant (BASELINE.json input_hint): sha2(content,256) of the
    source equals records.content_sha256, row for row. Returns violations."""
    src = files.select(
        F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256).alias("record_id"),
        F.sha2(F.col("content"), 256).alias("expected_sha"),
    )
    joined = records.select("record_id", "content_sha256").join(src, "record_id", "full")
    return joined.filter(
        (F.col("content_sha256").isNull())
        | (F.col("expected_sha").isNull())
        | (F.col("content_sha256") != F.col("expected_sha"))
    ).count()
