"""Incremental delta processing + checkpoint/resume (north_rule:
resumable from snapshot; SURVEY.md §2.9)."""

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.corpus import generate_files
from identity_matching_spark.operators.blocking import candidate_pairs
from identity_matching_spark.operators.normalize import normalize_files, with_dense_ids
from identity_matching_spark.plans.pipeline import STAGES, run_pipeline
from identity_matching_spark.sources.snapshots import SnapshotStore
from identity_matching_spark.streaming.incremental import incremental_pairs, new_since

CFG = MatchConfig(
    blocking_families=("content_sha", "norm_sha", "name_prefix"), enable_fuzzy=False
)


def test_new_since_anti_join(spark):
    files = generate_files(spark, 50).drop("entity_id")
    recs = normalize_files(files)
    processed = recs.select("record_id").limit(30)
    fresh = new_since(recs, processed)
    assert fresh.count() == recs.count() - 30
    assert fresh.join(processed, "record_id", "inner").count() == 0


def test_incremental_pairs_subset_of_full(spark):
    """Delta pairs = exactly the full-run pairs touching >=1 new record,
    didx twins included."""
    files = generate_files(spark, 120).drop("entity_id").cache()
    recs = with_dense_ids(normalize_files(files)).cache()
    full = candidate_pairs(recs, CFG).pairs
    new_recs = recs.orderBy("record_id").limit(40)
    inc = incremental_pairs(recs, new_recs, CFG)
    new_ids = {r["record_id"] for r in new_recs.select("record_id").collect()}
    full_rows = {tuple(r) for r in full.collect()}
    expected = {p for p in full_rows if p[0] in new_ids or p[1] in new_ids}
    assert inc.columns == full.columns
    got = {tuple(r) for r in inc.collect()}
    assert got == expected


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def first_run(spark, tmp_path_factory):
    """One durable run from scratch; its clusters and scored pairs must
    equal the in-memory run's."""
    files = generate_files(spark, 60).drop("entity_id").cache()
    d = str(tmp_path_factory.mktemp("resume") / "ckpt")
    out = run_pipeline(files, CFG, checkpoint_dir=d, resume=False)
    want = (_rows(out.clusters), _rows(out.scored_pairs))
    mem = run_pipeline(files, CFG)
    assert (_rows(mem.clusters), _rows(mem.scored_pairs)) == want
    mem.cleanup()
    return files, d, want


@pytest.mark.parametrize(
    "stage,torn",
    [pytest.param(k, torn, id=f"{k}-{'torn' if torn else 'done'}")
     for k in STAGES for torn in (False, True)],
)
def test_checkpoint_resume_identical_clusters(spark, tmp_path, first_run, stage, torn):
    """Crash at a stage boundary, then resume: every stage after ``stage``
    is gone, and when ``torn`` the stage itself was cut mid-write (its
    directory exists without ``_SUCCESS``). The resumed run must give the
    first run's clusters and scored pairs."""
    files, first_dir, want = first_run
    d = str(tmp_path / "ckpt")
    shutil.copytree(first_dir, d)
    k = STAGES.index(stage)
    for later in STAGES[k + 1:]:
        shutil.rmtree(os.path.join(d, later))
    if torn:
        os.remove(os.path.join(d, stage, "_SUCCESS"))
    out = run_pipeline(files, CFG, checkpoint_dir=d, resume=True)
    assert (_rows(out.clusters), _rows(out.scored_pairs)) == want
    rows = out.lineage.collect()
    # completed stages were read back, not rebuilt: one lineage row from
    # the first run; every rebuilt stage logged a second one
    rebuilt = STAGES[k if torn else k + 1:]
    logged = Counter(r["stage"] for r in rows)
    assert logged == {s: 1 + (s in rebuilt) for s in STAGES}
    # per-partition lineage (north_rule): every logged stage carries
    # per-partition {file, rows, bytes} whose rows sum to rows_out
    for r in rows:
        parts = r["partitions"]
        assert parts and len(parts) == r["n_partitions"]
        assert sum(p["rows"] for p in parts) == r["rows_out"]
        assert all(p["bytes"] > 0 and p["file"] for p in parts)


def test_snapshot_store_roundtrip(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "s"))
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("y"))
    store.write("t", df)
    assert store.has("t")
    assert store.count("t") == 10
    back = store.read("t")
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())
