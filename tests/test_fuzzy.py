"""Fuzzy comparator path: phonetic enrichment, fuzzy pair flags, MDM
phonetic verdict (mdm-rules.json semantics)."""

import pytest

from identity_matching_spark import config as config_mod
from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.blocking import candidate_pairs
from identity_matching_spark.operators.compare import (
    FUZZY_FLAG_NAMES,
    compare_pairs,
    compare_pairs_fuzzy,
    enrich_phonetic,
)
from identity_matching_spark.operators.grade import grade_pairs
from identity_matching_spark.operators.normalize import normalize_files, with_dense_ids

CFG = MatchConfig()


def _recs(spark, rows):
    files = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    return with_dense_ids(normalize_files(files))


def _pairs(spark, recs, id_pairs):
    """Hand-built pair list with the didx twins the scoring attach keys on."""
    didx = {r["record_id"]: r["didx"] for r in recs.select("record_id", "didx").collect()}
    return spark.createDataFrame(
        [(a, b, didx[a], didx[b]) for a, b in id_pairs],
        "left_id string, right_id string, left_didx long, right_didx long",
    )


@pytest.fixture(scope="module")
def scored(spark):
    rows = [
        # same entity, stem typo'd: smith vs smyth (phonetic match, exact miss)
        ("r1", "src/io/smith.py", "a" * 40, "python", "alpha beta gamma"),
        ("r2", "src/io/smyth.py", "b" * 40, "python", "alpha beta gamma delta"),
        # unrelated
        ("r3", "lib/db/runner.py", "c" * 40, "go", "totally different content here"),
    ]
    recs = _recs(spark, rows)
    ids = recs.select("record_id", "path").collect()
    by_path = {r["path"]: r["record_id"] for r in ids}
    pairs = _pairs(spark, recs, [
        tuple(sorted([by_path["src/io/smith.py"], by_path["src/io/smyth.py"]])),
        tuple(sorted([by_path["src/io/smith.py"], by_path["lib/db/runner.py"]])),
    ])
    out = grade_pairs(compare_pairs_fuzzy(pairs, recs, CFG))
    rows_out = {(r["left_id"], r["right_id"]): r for r in out.collect()}
    smith_smyth = tuple(sorted([by_path["src/io/smith.py"], by_path["src/io/smyth.py"]]))
    smith_runner = tuple(sorted([by_path["src/io/smith.py"], by_path["lib/db/runner.py"]]))
    return rows_out[smith_smyth], rows_out[smith_runner]


def test_fuzzy_flags_present(scored):
    near, far = scored
    for f in FUZZY_FLAG_NAMES:
        assert f in near.asDict()


def test_phonetic_catches_typo_exact_misses(scored):
    near, _ = scored
    assert not near["family_name_match"]        # exact: smith != smyth
    assert near["soundex_family_match"]         # soundex: S530 == S530
    assert near["metaphone_family_match"]
    # JW(smith,smyth) = 0.8933 — below the 0.92 flag threshold but high sim
    assert not near["jw_family_match"]
    assert near["jw_family_sim"] == pytest.approx(0.8933, abs=1e-3)
    assert near["cologne_given_match"]          # same dir1 'src'


def test_unrelated_pair_no_fuzzy_match(scored):
    _, far = scored
    assert not far["soundex_family_match"]
    assert not far["jw_family_match"]
    assert not far["lev_family_match"]


def test_phonetic_verdict_follows_mdm_rules(scored):
    near, far = scored
    # cologne given (dir1 'src'='src') + soundex family -> MATCH
    assert near["verdict_phonetic"] == "MATCH"
    # different dir1 and family -> NO_MATCH
    assert far["verdict_phonetic"] == "NO_MATCH"


def test_fuzzy_sims_in_range(scored):
    near, far = scored
    assert 0.85 <= near["jw_family_sim"] <= 1.0
    assert 0.0 <= far["jw_family_sim"] < 0.7
    assert 0.0 <= far["lev_family_sim"] <= 1.0


def test_enrich_phonetic_columns(spark):
    recs = _recs(spark, [("r", "a/b/parser.py", "0" * 40, "python", "x y z")])
    out = enrich_phonetic(recs).select("cologne_dir1", "soundex_stem", "metaphone_stem").collect()[0]
    assert out["soundex_stem"] == "P626"
    assert out["cologne_dir1"] is not None
    assert out["metaphone_stem"] is not None


def test_kernel_plan_is_shuffle_free_in_broadcast_regime(spark):
    """With the records side under config.BROADCAST_ROWS, the scoring
    kernel must be one broadcast-probe pipeline over the pair stream:
    no sort-merge or shuffled-hash join anywhere in the scored plan."""
    rows = [
        ("r1", "src/io/smith.py", "a" * 40, "python", "alpha beta"),
        ("r2", "src/io/smyth.py", "b" * 40, "python", "alpha beta delta"),
    ]
    recs = _recs(spark, rows)
    ids = sorted(r["record_id"] for r in recs.select("record_id").collect())
    pairs = _pairs(spark, recs, [tuple(ids)])
    scored = grade_pairs(compare_pairs_fuzzy(pairs, recs, CFG, n_records=2))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # stems x2, jw table, attrs x2


def test_shuffle_hash_regime_equals_broadcast_regime(spark, monkeypatch):
    """With both broadcast limits (config.BROADCAST_ROWS and
    BROADCAST_STEM_PAIRS) at 0 the attaches, the stem maps, the JW table,
    with_dense_ids' id map and blocking's string-id re-attach join
    shuffle-hash on their keys; every row must equal the broadcast
    regime's."""
    files = spark.createDataFrame([
        ("r1", "src/io/smith.py", "a" * 40, "python", "alpha beta gamma"),
        ("r2", "src/io/smyth.py", "b" * 40, "python", "alpha beta gamma delta"),
        ("r3", "lib/db/runner.py", "c" * 40, "go", "totally different content here"),
        ("r4", "src/io/smith.py", "d" * 40, "python", "alpha beta gamma"),
        ("r5", "src/db/smithe.py", "e" * 40, "python", "alpha"),
    ], ["repo", "path", "commit", "lang", "content"])
    recs = with_dense_ids(normalize_files(files))
    ids = sorted(r["record_id"] for r in recs.select("record_id").collect())
    pairs = _pairs(spark, recs, [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]])
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    plan = lambda df: df._jdf.queryExecution().executedPlan().toString()  # noqa: E731

    def both(build):
        """build() under the default limits, then with both at 0."""
        broadcast = build()
        with monkeypatch.context() as m:
            m.setattr(config_mod, "BROADCAST_ROWS", 0)
            m.setattr(config_mod, "BROADCAST_STEM_PAIRS", 0)
            shuffled = build()
        return broadcast, shuffled

    # the id joins: the dense-id map on its distributed (bucket-rank) path,
    # and blocking's re-attach of the string ids after the pair dedup
    with monkeypatch.context() as m:
        m.setattr(config_mod, "DRIVER_FINISH_ROWS", 0)
        ids_b, ids_s = both(lambda: with_dense_ids(normalize_files(files)))
    assert "ShuffledHashJoin" not in plan(ids_b)
    assert "ShuffledHashJoin" in plan(ids_s)
    id_cols = lambda df: df.select("record_id", "didx", "stem")  # noqa: E731
    assert rows(id_cols(ids_s)) == rows(id_cols(ids_b)) == rows(id_cols(recs))
    block_b, block_s = both(lambda: candidate_pairs(recs, CFG, n_records=5))
    assert "ShuffledHashJoin" not in plan(block_b.pairs)
    assert plan(block_s.pairs).count("ShuffledHashJoin") >= 2  # both id sides
    assert rows(block_s.pairs) == rows(block_b.pairs) and len(rows(block_b.pairs)) > 0
    # the second dense-id build found the first one's slim cache (None)
    for cache in (ids_b._dense_slim_cache, block_b.keyed_cache, block_s.keyed_cache):
        cache.unpersist()

    exact_b, exact_s = both(lambda: compare_pairs(pairs, recs, n_records=5))
    assert plan(exact_s).count("ShuffledHashJoin") >= 2  # both attach sides
    assert exact_s.columns == exact_b.columns
    assert rows(exact_s) == rows(exact_b)

    fuzzy_b, fuzzy_s = both(lambda: compare_pairs_fuzzy(pairs, recs, CFG, n_records=5))
    assert plan(fuzzy_s).count("ShuffledHashJoin") >= 5  # stems x2, jw table, attrs x2
    assert fuzzy_s.columns == fuzzy_b.columns
    assert rows(fuzzy_s) == rows(fuzzy_b)
    assert len(rows(fuzzy_b)) == 10
    # both JW tables were finished on the driver: nothing cached to release
    assert fuzzy_b.jw_stem_cache is None and fuzzy_s.jw_stem_cache is None
    # an unknown records size (None) takes the shuffle-hash regime, no count
    fuzzy_u = compare_pairs_fuzzy(pairs, recs, CFG)
    assert "ShuffledHashJoin" in plan(fuzzy_u)
    assert rows(fuzzy_u) == rows(fuzzy_b)
