"""Driver finish for small relations (operators/driver_finish.py): below
``config.DRIVER_FINISH_ROWS`` the dense-id map, the phonetic dictionaries,
the distinct-stem JW table and blocking's guard keys are finished on the
driver. The default pipeline then plans no Python evaluation, each
relation equals the distributed path's (limit forced to 0) row for row,
and the records stage reads every source row once."""

import pytest
from pyspark.sql import functions as F

from identity_matching_spark import config as config_mod
from identity_matching_spark.config import MatchConfig
from identity_matching_spark.corpus import generate_files
from identity_matching_spark.operators.blocking import candidate_pairs
from identity_matching_spark.operators.compare import enrich_phonetic, jw_stem_table
from identity_matching_spark.operators.normalize import normalize_files, with_dense_ids
from identity_matching_spark.plans.pipeline import build_records, run_pipeline
from identity_matching_spark.sources.snapshots import SnapshotStore

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def files(spark):
    return generate_files(spark, 60).drop("entity_id").cache()


def test_default_pipeline_plans_no_python(spark, files, tmp_path, monkeypatch):
    """Neither the in-memory stage relations nor any stage written by a
    durable run evaluates a Python UDF under the default config."""
    mem = run_pipeline(files, MatchConfig())
    for name in ("records", "pairs", "scored_pairs", "clusters"):
        plan = _plan(getattr(mem, name))
        assert not any(n in plan for n in PYTHON_NODES), name
    mem.cleanup()

    written = {}
    orig_write = SnapshotStore.write

    def write(self, name, df):
        written[name] = _plan(df)
        return orig_write(self, name, df)

    monkeypatch.setattr(SnapshotStore, "write", write)
    durable = run_pipeline(files, MatchConfig(), checkpoint_dir=str(tmp_path / "ckpt"))
    assert {"records", "pairs", "scored_pairs"} <= set(written)
    for name, plan in written.items():
        assert not any(n in plan for n in PYTHON_NODES), name
    durable.cleanup()


def _both_paths(monkeypatch, build):
    """build() under the driver finish, then with the limit forced to 0."""
    driver = build()
    with monkeypatch.context() as m:
        m.setattr(config_mod, "DRIVER_FINISH_ROWS", 0)
        distributed = build()
    return driver, distributed


def test_distributed_paths_equal_driver_paths(spark, files, monkeypatch):
    recs = normalize_files(files).cache()
    d_ids, s_ids = _both_paths(monkeypatch, lambda: _rows(
        with_dense_ids(recs).select("record_id", "didx")))
    assert d_ids == s_ids
    assert sorted(d for _, d in d_ids) == list(range(len(d_ids)))

    dense = with_dense_ids(recs).cache()
    phon_cols = ["record_id", "cologne_dir1", "soundex_stem", "metaphone_stem",
                 "cologne_h64", "soundex_h64", "metaphone_h64"]
    d_ph, s_ph = _both_paths(monkeypatch, lambda: _rows(
        enrich_phonetic(dense).select(*phon_cols)))
    assert d_ph == s_ph
    assert any(r[1] is not None for r in d_ph) and any(r[3] is not None for r in d_ph)

    cfg = MatchConfig()
    pairs = candidate_pairs(dense, cfg).pairs.cache()
    n = dense.count()
    d_jw, s_jw = _both_paths(monkeypatch, lambda: _rows(
        jw_stem_table(pairs, dense, n, cfg.records_broadcast_limit)))
    assert d_jw == s_jw and len(d_jw) > 0

    d_bl, s_bl = _both_paths(monkeypatch, lambda: (
        lambda b: (_rows(b.pairs), _rows(b.block_stats)))(candidate_pairs(dense, cfg)))
    assert d_bl == s_bl and len(d_bl[0]) > 0

    # the pipeline's records stage: one collect finishes the dense ids and
    # the phonetic codes below the limit; above it the two distributed paths
    def records():
        recs, spent = build_records(files, cfg)
        got = recs.select("didx", *phon_cols).collect()
        for df in spent:
            df.unpersist()
        return recs.columns, sorted(tuple(r) for r in got)

    d_rec, s_rec = _both_paths(monkeypatch, records)
    assert d_rec == s_rec
    assert d_rec[0] == enrich_phonetic(dense).columns
    assert sorted(r[0] for r in d_rec[1]) == list(range(len(d_rec[1])))
    assert [r[1:] for r in d_rec[1]] == sorted(d_ph)


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "durable"])
@pytest.mark.parametrize("fuzzy", [False, True], ids=["exact", "fuzzy"])
def test_source_rows_read_once(spark, files, tmp_path, fuzzy, durable):
    """The normalize + validation-gate plan runs once per run: every row of
    an uncached source passes a counting UDF exactly once, however many
    consumers the records stage has before its barrier."""
    src = str(tmp_path / "src")
    files.write.parquet(src)
    seen = spark.sparkContext.accumulator(0)

    def count(content):
        seen.add(1)
        return content

    counted = F.udf(count, "string").asNondeterministic()
    source = spark.read.parquet(src).withColumn("content", counted("content"))
    ckpt = str(tmp_path / "ckpt") if durable else None
    res = run_pipeline(source, MatchConfig(enable_fuzzy=fuzzy), checkpoint_dir=ckpt)
    res.clusters.count()
    res.scored_pairs.count()
    res.cleanup()
    assert seen.value == files.count()


def test_cache_handoff(spark, files, monkeypatch):
    """The driver paths leave no cache behind. Above the limit each
    relation's collect is cached and handed to the caller (the distributed
    path reads it rather than running its plan again); the JW table comes
    back persisted with its row count."""
    spark.catalog.clearCache()  # no cache left by earlier tests shares a plan
    dense = with_dense_ids(normalize_files(files)).cache()
    n = dense.count()
    pairs = candidate_pairs(dense, MatchConfig(), n_records=n).pairs.cache()
    pairs.count()

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    ids = with_dense_ids(normalize_files(files))
    ph = enrich_phonetic(dense)
    jw = jw_stem_table(pairs, dense, n)
    assert persisted() == before
    assert getattr(ids, "_dense_slim_cache", None) is None
    assert ph._phonetic_vocab_cache is None and jw.jw_stem_cache is None
    assert jw.n_rows == jw.count() > 0

    monkeypatch.setattr(config_mod, "DRIVER_FINISH_ROWS", 0)
    ids = with_dense_ids(normalize_files(files))
    ph = enrich_phonetic(dense)
    jw = jw_stem_table(pairs, dense, n)
    assert jw.n_rows == jw.count() > 0
    for cache in (ids._dense_slim_cache, ph._phonetic_vocab_cache, jw.jw_stem_cache):
        assert cache.is_cached
        cache.unpersist()
    for df in (pairs, dense):
        df.unpersist()


@pytest.mark.parametrize("limit", [None, 0], ids=["driver", "distributed"])
def test_cleanup_releases_run_caches(spark, files, monkeypatch, limit):
    """An in-memory run plus cleanup() leaves the session's persisted RDDs
    as it found them: blocking's key table and, with the limit at 0, its
    cached guard key set are pinned with the run's other caches, and CC's
    local checkpoint is dropped once the driver finish has collected it."""
    if limit is not None:
        monkeypatch.setattr(config_mod, "DRIVER_FINISH_ROWS", limit)
    files.count()  # the module fixture's own cache is not the run's

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    cfg = MatchConfig()
    if limit is not None:
        # exact-only: the fuzzy caches' release is covered by
        # test_cache_handoff, and their pandas UDFs would triple the run.
        # Small block caps give the guard set rows, so it is cached.
        cfg = cfg.with_(enable_fuzzy=False, max_block_size=4, identity_star_threshold=2)

    before = persisted()
    res = run_pipeline(files, cfg)
    if limit is not None:
        assert res.block_stats.count() > 0
    res.cleanup()
    assert persisted() == before


def test_guarded_blocking_equal_on_both_paths(spark, monkeypatch):
    """Every guard branch has keys (star, sub-salted, hot-salted): pairs and
    block_stats are identical on the driver-finished and distributed
    guard sets."""
    rows = (
        [(f"s{i}", f"d{i}/x{i}.py", f"{i:040x}", "python", "same content") for i in range(6)]
        + [(f"o{i}", "a/b/same.py", f"{i:040x}", "python", f"content {i}") for i in range(14)]
        + [(f"h{i}", "a/b/hot.py", f"{i:040x}", "python", f"content {i}") for i in range(9)]
    )
    files = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    recs = with_dense_ids(normalize_files(files)).cache()
    cfg = MatchConfig(
        blocking_families=("content_sha", "name_prefix"),
        max_block_size=12,
        family_block_caps=(),
        identity_star_threshold=4,
        salt_buckets=1,  # hot above 8 rows
    )

    def build():
        b = candidate_pairs(recs, cfg)
        return _rows(b.pairs), _rows(b.block_stats)

    driver, distributed = _both_paths(monkeypatch, build)
    assert driver == distributed
    assert {r[3] for r in driver[1]} == {"star", "subsalted"}
    # the 9-row hot block is salted, not reported, and loses no pair
    hot = {r[0] for r in recs.filter("repo like 'h%'").select("didx").collect()}
    got = {(r[2], r[3]) for r in driver[0]}
    assert {(a, b) for a in hot for b in hot if a < b} <= got
