"""Dense record ids (didx): interning is dense, deterministic and
width-independent, and blocking emits them as the pair key. Scored rows
over didx keys are checked against DuckDB in test_oracle_parity.py."""

import re

import pytest

from identity_matching_spark import config as config_mod
from identity_matching_spark.operators.normalize import normalize_files, with_dense_ids


@pytest.fixture
def bucket_ranks(monkeypatch):
    """Force the distributed bucket-rank path (these inputs are far below
    the driver-finish limit, which would otherwise sort them on the driver)."""
    monkeypatch.setattr(config_mod, "DRIVER_FINISH_ROWS", 0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _width(df) -> int:
    """The record_id prefix width (nibbles) of df's bucket-rank plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return int(re.search(r"substring\(record_id#\d+, 1, (\d+)\)", plan).group(1))


def test_dense_ids_are_dense_and_deterministic(spark):
    files = spark.createDataFrame(
        [(f"r{i}", f"src/mod{i % 3}/f{i}.py", "c" * 40, "python", f"line {i}\nx")
         for i in range(7)],
        ["repo", "path", "commit", "lang", "content"],
    )
    recs = with_dense_ids(normalize_files(files))
    got = recs.select("record_id", "didx").collect()
    ids = sorted(r["record_id"] for r in got)
    by_id = {r["record_id"]: r["didx"] for r in got}
    assert sorted(by_id.values()) == list(range(7))
    # rank order == record_id string order
    assert [by_id[i] for i in ids] == list(range(7))


def test_production_blocking_carries_didx(spark):
    """candidate_pairs emits left_didx/right_didx matching the records'
    didx — the key every scoring attach and the CC edge set use — and
    refuses records without dense ids instead of mixing key schemes."""
    from identity_matching_spark.config import MatchConfig
    from identity_matching_spark.operators.blocking import candidate_pairs

    files = spark.createDataFrame(
        [(f"r{i}", f"src/m{i % 2}/same.py", "c" * 40, "python", "shared body")
         for i in range(6)],
        ["repo", "path", "commit", "lang", "content"],
    )
    recs = with_dense_ids(normalize_files(files))
    res = candidate_pairs(recs, MatchConfig())
    assert {"left_didx", "right_didx"} <= set(res.pairs.columns)
    by_id = {r["record_id"]: r["didx"] for r in recs.select("record_id", "didx").collect()}
    for row in res.pairs.collect():
        assert row["left_didx"] == by_id[row["left_id"]]
        assert row["right_didx"] == by_id[row["right_id"]]
    with pytest.raises(ValueError, match="with_dense_ids"):
        candidate_pairs(recs.drop("didx"), MatchConfig())


def test_with_dense_ids_scales_without_global_window(spark, bucket_ranks):
    """The rank assignment must not plan a single-partition global window:
    order-preserving bucket ranks + offsets only."""
    files = spark.createDataFrame(
        [(f"r{i}", f"p{i}.py", "c" * 40, "python", f"body {i}") for i in range(50)],
        ["repo", "path", "commit", "lang", "content"],
    )
    recs = with_dense_ids(normalize_files(files))
    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan  # the per-bucket rank
    assert "SinglePartition" not in plan


def test_dense_ids_identical_across_nibble_widths(spark, bucket_ranks, monkeypatch):
    """didx must be bit-identical at every prefix width (VERDICT r4 #3):
    the bucket scheme re-partitions the rank computation but never reorders
    it, so a forced-4-nibble run (the 10^12-id shape) assigns the same ids
    as the 2-nibble default. A fractional config.DENSE_ID_BUCKET_ROWS
    forces the width on 64 ids: ceil(log16(64 / target)) nibbles."""
    files = spark.createDataFrame(
        [(f"r{i}", f"src/m{i % 5}/f{i}.py", "c" * 40, "python", f"body {i}")
         for i in range(64)],
        ["repo", "path", "commit", "lang", "content"],
    )
    recs = normalize_files(files)
    by_width = {}
    for nib, target in ((2, config_mod.DENSE_ID_BUCKET_ROWS), (4, 0.01), (6, 1e-5)):
        monkeypatch.setattr(config_mod, "DENSE_ID_BUCKET_ROWS", target)
        got = with_dense_ids(recs)
        assert _width(got) == nib
        by_width[nib] = sorted(
            (r["record_id"], r["didx"])
            for r in got.select("record_id", "didx").collect()
        )
    assert by_width[2] == by_width[4] == by_width[6]
    assert sorted(d for _, d in by_width[2]) == list(range(64))


def test_dense_ids_autoscale_width(spark, bucket_ranks, monkeypatch):
    """The width derives from the input: tiny inputs stay at 2 nibbles; a
    small config.DENSE_ID_BUCKET_ROWS forces a wider prefix, with identical
    didx values either way."""
    files = spark.createDataFrame(
        [(f"r{i}", f"f{i}.py", "c" * 40, "python", f"body {i}") for i in range(32)],
        ["repo", "path", "commit", "lang", "content"],
    )
    recs = normalize_files(files)
    default = with_dense_ids(recs)
    monkeypatch.setattr(config_mod, "DENSE_ID_BUCKET_ROWS", 0.01)
    auto = with_dense_ids(recs)  # ceil(log16(32 / 0.01)) = 3 nibbles
    assert (_width(default), _width(auto)) == (2, 3)
    rows = lambda df: sorted(
        (r["record_id"], r["didx"]) for r in df.select("record_id", "didx").collect()
    )
    assert rows(auto) == rows(default)


def test_pipeline_forced_4_nibbles_identical(spark, bucket_ranks, sf_dir, monkeypatch):
    """run_pipeline with a 4-nibble dense-id width must yield
    bit-identical candidate pairs and clusters to the default-width run
    (VERDICT r4 #3 done-criterion)."""
    from identity_matching_spark.config import MatchConfig
    from identity_matching_spark.plans.pipeline import run_pipeline
    from identity_matching_spark.sources.tables import (
        files_from_documents,
        load_table,
    )

    corpus_files = files_from_documents(load_table(spark, sf_dir, "documents"))
    base = run_pipeline(corpus_files, MatchConfig(enable_fuzzy=False))
    # ceil(log16(n / 0.01)) = 4 nibbles for any 41 < n <= 655 records
    assert 41 < base.records.count() <= 655
    monkeypatch.setattr(config_mod, "DENSE_ID_BUCKET_ROWS", 0.01)
    forced = run_pipeline(corpus_files, MatchConfig(enable_fuzzy=False))
    assert _rows(base.pairs.select("left_id", "right_id")) == _rows(
        forced.pairs.select("left_id", "right_id")
    )
    assert _rows(base.clusters) == _rows(forced.clusters)
    base.cleanup()
    forced.cleanup()
