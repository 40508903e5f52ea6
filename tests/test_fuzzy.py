"""Fuzzy comparator path: phonetic enrichment, fuzzy pair flags, MDM
phonetic verdict (mdm-rules.json semantics)."""

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
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
    """With the records side under records_broadcast_limit, the scoring
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


def test_shuffle_hash_regime_equals_broadcast_regime(spark):
    """With both broadcast limits at 0 the attaches, the stem maps and the
    JW table join shuffle-hash on the didx keys; every scored row must equal
    the broadcast regime's."""
    recs = _recs(spark, [
        ("r1", "src/io/smith.py", "a" * 40, "python", "alpha beta gamma"),
        ("r2", "src/io/smyth.py", "b" * 40, "python", "alpha beta gamma delta"),
        ("r3", "lib/db/runner.py", "c" * 40, "go", "totally different content here"),
        ("r4", "src/io/smith.py", "d" * 40, "python", "alpha beta gamma"),
        ("r5", "src/db/smithe.py", "e" * 40, "python", "alpha"),
    ])
    ids = sorted(r["record_id"] for r in recs.select("record_id").collect())
    pairs = _pairs(spark, recs, [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]])
    shuffled = CFG.with_(records_broadcast_limit=0, jw_distinct_broadcast_limit=0)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731

    exact_b = compare_pairs(pairs, recs, n_records=5)
    exact_s = compare_pairs(pairs, recs, n_records=5, broadcast_limit=0)
    plan = exact_s._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2  # both attach sides
    assert exact_s.columns == exact_b.columns
    assert rows(exact_s) == rows(exact_b)

    fuzzy_b = compare_pairs_fuzzy(pairs, recs, CFG, n_records=5)
    fuzzy_s = compare_pairs_fuzzy(pairs, recs, shuffled, n_records=5)
    plan = fuzzy_s._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 5  # stems x2, jw table, attrs x2
    assert fuzzy_s.columns == fuzzy_b.columns
    assert rows(fuzzy_s) == rows(fuzzy_b)
    assert len(rows(fuzzy_b)) == 10
    # both JW tables were finished on the driver: nothing cached to release
    assert fuzzy_b.jw_stem_cache is None and fuzzy_s.jw_stem_cache is None
    # an unknown records size (None) takes the shuffle-hash regime, no count
    fuzzy_u = compare_pairs_fuzzy(pairs, recs, CFG)
    assert "ShuffledHashJoin" in fuzzy_u._jdf.queryExecution().executedPlan().toString()
    assert rows(fuzzy_u) == rows(fuzzy_b)
