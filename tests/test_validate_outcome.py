"""P5/P6 runtime validation gate + S7/F8 no-match outcome branch."""

import itertools
import json
import os

from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.corpus import generate_files
from identity_matching_spark.operators.validate import (
    TIER_RANK,
    VALIDATION_LEVELS,
    completeness_weight_expr,
    tier_expr,
    validation_gate,
)
from identity_matching_spark.plans.pipeline import run_pipeline

CFG = MatchConfig(enable_fuzzy=False)

#: The record columns the completeness weight and base_valid read.
GATE_STRING_COLS = (
    "shape_sha", "norm_sha", "ins_member_sha", "ins_subscriber_sha",
    "stem", "dir1", "content_sha256",
)
GATE_SCHEMA = "rid int, " + ", ".join(f"{c} string" for c in GATE_STRING_COLS) + ", size_bucket long"


def _py_present(v) -> bool:
    return v is not None and v != ""


def _py_tier(row: dict) -> tuple[int, str]:
    """Plain-Python port of the profile weight table and tier ladder."""
    n_other = sum(_py_present(row[c]) for c in ("norm_sha", "ins_member_sha", "ins_subscriber_sha"))
    w = (
        (10 if _py_present(row["shape_sha"]) else 0)
        + (4 if n_other == 1 else 5 if n_other > 1 else 0)
        + (3 if _py_present(row["stem"]) and _py_present(row["dir1"]) else 0)
        + (2 if row["size_bucket"] is not None else 0)
    )
    base_valid = (
        _py_present(row["content_sha256"])
        or (_py_present(row["stem"]) and _py_present(row["dir1"]))
        or row["size_bucket"] is not None
    )
    tier = "L1" if w >= 10 else "L0" if w >= 9 else "BASE" if base_valid else "INVALID"
    return w, tier


def _with_invalid(spark, n_valid=30, n_bad=5):
    valid = generate_files(spark, n_valid).drop("entity_id")
    # null content + single-segment path + no dirs -> every completeness
    # source absent -> INVALID tier
    bad = spark.createDataFrame(
        [("orgX", "x", f"c{i}", "en", None) for i in range(n_bad)],
        "repo string, path string, commit string, lang string, content string",
    )
    return valid.unionByName(bad), n_bad


def test_invalid_records_gated_before_blocking(spark):
    files, n_bad = _with_invalid(spark)
    res = run_pipeline(files, CFG)  # validation_level="BASE" default
    # the INVALID rows never enter the pipeline: no null-sha records, and
    # none of their record_ids appear in any pair side
    assert res.records.filter(F.col("content_sha256").isNull()).count() == 0
    bad_ids = res.records.filter(F.col("content").isNull()).count()
    assert bad_ids == 0


def test_validation_override_lets_all_through(spark):
    files, n_bad = _with_invalid(spark)
    gated = run_pipeline(files, CFG).records.count()
    override = run_pipeline(files, CFG.with_(validation_override=True)).records.count()
    assert override == gated + n_bad
    none_level = run_pipeline(files, CFG.with_(validation_level="NONE")).records.count()
    assert none_level == override


def test_unknown_level_rejected(spark):
    files, _ = _with_invalid(spark, n_valid=5, n_bad=1)
    import pytest

    with pytest.raises(ValueError, match="validation_level"):
        run_pipeline(files, CFG.with_(validation_level="L9"))


def test_gate_keeps_exactly_rows_ranked_at_level(spark):
    """Every presence combination (NULL, "" and a value for strings; NULL
    and a value for size_bucket) of the columns the gate reads: at each
    level the gate keeps exactly the rows whose tier ranks at least it."""
    states = [(None, "", "x")] * len(GATE_STRING_COLS) + [(None, 7)]
    rows = [(i, *combo) for i, combo in enumerate(itertools.product(*states))]
    df = spark.createDataFrame(rows, GATE_SCHEMA)
    tiered = {
        r["rid"]: r
        for r in df.select(
            "*", completeness_weight_expr().alias("w"), tier_expr().alias("tier")
        ).collect()
    }
    assert len(tiered) == 3 ** len(GATE_STRING_COLS) * 2
    for r in tiered.values():
        assert _py_tier(r.asDict()) == (r["w"], r["tier"])
    assert {r["tier"] for r in tiered.values()} == set(TIER_RANK)
    for level in VALIDATION_LEVELS:
        kept = {r["rid"] for r in validation_gate(df, CFG.with_(validation_level=level)).collect()}
        need = TIER_RANK.get(level, 0)
        want = {rid for rid, r in tiered.items() if TIER_RANK[r["tier"]] >= need}
        assert kept == want, level


def test_gate_compiles_without_codegen_fallback(spark, tmp_path):
    """With codegen fallback off, a generated method over the JVM's 64 KB
    limit fails the query instead of silently running interpreted: both
    run modes must compile the gate into the normalize stage."""
    files = generate_files(spark, 20).drop("entity_id")

    def shape(records, clusters):
        c = clusters.agg(F.count("*"), F.countDistinct("cluster_id")).first()
        return records.count(), c[0], c[1]

    # the session fixture sets this for every test; the check depends on it
    assert spark.conf.get("spark.sql.codegen.fallback") == "false"
    res = run_pipeline(files, MatchConfig())
    try:
        want = shape(res.records, res.clusters)
    finally:
        res.cleanup()
    out = run_pipeline(files, MatchConfig(), checkpoint_dir=str(tmp_path / "ckpt"))
    assert shape(out.records, out.clusters) == want
    assert want[0] == want[1] > 0


def test_no_match_outcome_branch(spark, tmp_path):
    """All-singleton corpus -> zero match edges -> one-row outcome frame
    with a uuid identity (IdentityMatching.java:486-495)."""
    from identity_matching_spark import cli

    rows = [
        (f"org{i}", f"dir{i}/sub{i}/unique_file_{i}.ext{i}", f"commit{i}", f"l{i}",
         f"completely distinct content body number {i} " + " ".join(
             f"tok{i}_{j}" for j in range(12)))
        for i in range(8)
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    rc = cli.main(["--input", src, "--output", out, "--no-fuzzy", "--cpus", "4"])
    assert rc == 0
    outcome = spark.read.parquet(f"{out}/outcome").collect()
    assert len(outcome) == 1
    row = outcome[0].asDict()
    # IdentityMatching.java:488-489: severity WARNING, IssueType NOTFOUND
    assert row["severity"] == "warning" and row["code"] == "not-found"
    assert row["diagnostics"] == "No matches found."
    assert len(row["outcome_id"]) == 36  # uuid fullUrl analog (F8)


def test_match_params_quirk_and_enforcement(spark, tmp_path, capsys):
    """P1: onlyCertainMatches/count are parsed but NOT applied by default
    (reference parity, IdentityMatching.java — no use after :248);
    --enforce-params deliberately applies them."""
    from identity_matching_spark import cli

    src = str(tmp_path / "src")
    generate_files(spark, 60).drop("entity_id").write.parquet(src)

    def run(*extra):
        out = str(tmp_path / ("out" + str(len(extra))))
        capsys.readouterr()
        rc = cli.main(["--input", src, "--output", out, "--no-fuzzy", "--cpus", "4", *extra])
        assert rc == 0
        line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        return json.loads(line), out

    quirk, _ = run("--count", "5", "--only-certain")
    assert quirk["params_ignored"] == {"onlyCertainMatches": True, "count": 5}
    assert quirk["pairs_scored"] > 5  # nothing was filtered or capped

    enforced, out = run("--count", "5", "--only-certain", "--enforce-params")
    assert "params_ignored" not in enforced
    assert enforced["pairs_scored"] == 5
    rows = spark.read.parquet(f"{out}/scored_pairs").collect()
    assert all(r["score"] >= 0.99 for r in rows)
