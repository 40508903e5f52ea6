"""Blocking guards: per-block caps, identity-star shortcut, hot-key salting
— pair sets must stay correct (no silent loss inside guard limits)."""

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.blocking import candidate_pairs
from identity_matching_spark.operators.normalize import normalize_files, with_dense_ids


def _records(spark, rows):
    files = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    return with_dense_ids(normalize_files(files))


@pytest.fixture(scope="module")
def tiny_cfg():
    return MatchConfig(
        blocking_families=("content_sha", "name_prefix"),
        max_block_size=10,
        identity_star_threshold=4,
        salt_buckets=2,
    )


def _guard_branches(res) -> set[str]:
    """Which guard branches the pair plan contains: the hot-key salt, the
    sub-salt split and the identity-star hub."""
    plan = res.pairs._jdf.queryExecution().optimizedPlan().toString()
    marks = {"salt": " AS salt#", "subsalt": "pmod(", "star": " AS hub#"}
    return {name for name, mark in marks.items() if mark in plan}


def test_small_blocks_full_quadratic(spark, tiny_cfg):
    rows = [(f"r{i}", "a/b/same.py", f"{i:040x}", "python", f"content {i}") for i in range(4)]
    recs = _records(spark, rows)
    res = candidate_pairs(recs, tiny_cfg)
    # 4 records share the name_prefix block -> C(4,2)=6 pairs
    assert res.pairs.count() == 6
    assert res.block_stats.count() == 0
    # no guarded key: no salt, sub-salt or star branch is planned
    assert _guard_branches(res) == set()


def test_identity_star_shortcut(spark, tiny_cfg):
    # 6 identical-content records: content_sha block above star threshold 4
    # -> star edges (5 pairs hub->member), not C(6,2)=15 from that family.
    rows = [(f"r{i}", f"d{i}/x{i}.py", f"{i:040x}", "python", "same content") for i in range(6)]
    recs = _records(spark, rows)
    cfg = tiny_cfg.with_(blocking_families=("content_sha",))
    res = candidate_pairs(recs, cfg)
    assert res.pairs.count() == 5
    stats = res.block_stats.collect()
    assert len(stats) == 1 and stats[0]["action"] == "star"
    assert _guard_branches(res) == {"star"}
    # transitive closure still connects all 6 (verified via shared hub)
    hubs = {r["left_id"] for r in res.pairs.collect()}
    assert len(hubs) == 1


def test_oversized_nonidentity_block_subsalted_and_reported(spark, tiny_cfg):
    rows = [(f"r{i}", "a/b/same.py", f"{i:040x}", "python", f"content {i}") for i in range(12)]
    recs = _records(spark, rows)
    cfg = tiny_cfg.with_(blocking_families=("name_prefix",))
    res = candidate_pairs(recs, cfg)
    # block size 12 > cap 10 -> split into k=2 hash-sub-blocks: fewer than
    # the full C(12,2)=66 pairs, more than none, and REPORTED
    n = res.pairs.count()
    assert 0 < n < 66
    stats = res.block_stats.collect()
    assert len(stats) == 1 and stats[0]["action"] == "subsalted" and stats[0]["n_records"] == 12
    # sub-blocking is deterministic
    assert candidate_pairs(recs, cfg).pairs.exceptAll(res.pairs).count() == 0


def test_salted_hot_key_pairs_complete(spark):
    """Keys above salt threshold (salt_buckets*8) but under the cap must
    produce the exact same pair set as the unsalted quadratic path."""
    cfg = MatchConfig(
        blocking_families=("name_prefix",),
        max_block_size=100,
        salt_buckets=2,  # salt threshold = 16
    )
    rows = [(f"r{i}", "a/b/hot.py", f"{i:040x}", "python", f"content {i}") for i in range(20)]
    recs = _records(spark, rows)
    res = candidate_pairs(recs, cfg)
    n = res.pairs.count()
    assert n == 20 * 19 // 2
    assert res.pairs.distinct().count() == n


def test_pair_dedup_across_families(spark):
    """A pair found under two keys scores once (A4 dedup)."""
    rows = [
        ("r1", "a/b/x.py", "0" * 40, "python", "identical"),
        ("r2", "a/b/x.py", "1" * 40, "python", "identical"),
    ]
    cfg = MatchConfig(blocking_families=("content_sha", "norm_sha", "name_prefix"))
    recs = _records(spark, rows)
    res = candidate_pairs(recs, cfg)
    assert res.pairs.count() == 1
