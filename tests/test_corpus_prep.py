"""Corpus-preparation operators (operators/corpus_prep.py): semantics the
oracle hash-compare can't see — split stability under repartitioning,
the global-shuffle two-pass rank vs a single-window reference, and the
decontamination plan's broadcast shape."""

import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from identity_matching_spark.operators.corpus_prep import (
    decontaminate,
    global_shuffle,
    repetition_stats,
    sample_stratified,
    split_assign,
)
from identity_matching_spark.sources.tables import load_table

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_split_assign_stable_under_repartition(spark):
    docs = load_table(spark, SF, "documents")
    a = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split_assign(docs.repartition(13, "lang")).collect()
    }
    assert a == b
    # every doc assigned, all three splits present at this corpus size
    assert len(a) == docs.count()
    assert set(a.values()) == {"train", "val", "test"}


def test_sample_stratified_rates(spark):
    docs = load_table(spark, SF, "documents")
    kept = sample_stratified(docs, rates={"en": 1.0, "de": 0.0}).collect()
    langs = {r["lang"] for r in kept}
    n_en_total = docs.filter(F.col("lang") == "en").count()
    n_en_kept = sum(1 for r in kept if r["lang"] == "en")
    assert "de" not in langs          # rate 0 drops everything
    assert n_en_kept == n_en_total    # rate 1 keeps everything
    # unlisted strata default to rate 0
    assert langs <= {"en"}


def test_global_shuffle_equals_single_window_rank(spark):
    docs = load_table(spark, SF, "documents")
    got = global_shuffle(docs, n_buckets=7).collect()
    w = Window.orderBy("shuffle_key", "doc_id")
    want = (
        global_shuffle(docs, n_buckets=1)
        .select("doc_id", "shuffle_key")
        .withColumn("position", F.row_number().over(w) - 1)
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    positions = sorted(r["position"] for r in got)
    assert positions == list(range(len(got)))  # dense 0..n-1


def test_global_shuffle_positions_dense_over_nondeterministic_input(spark):
    """The count pass and the position pass must see the same rows even when
    the input differs on every evaluation. ``F.rand()`` would not do: its
    seed is fixed when the column is built, so every pass draws the same
    values; an unseeded Python coin is drawn afresh per evaluation."""
    import random

    coin = F.udf(lambda: random.random(), "double").asNondeterministic()
    docs = load_table(spark, SF, "documents").filter(coin() < 0.5)
    got = global_shuffle(docs, n_buckets=7).collect()
    assert sorted(r["position"] for r in got) == list(range(len(got)))


def test_decontaminate_broadcasts_eval_side(spark):
    docs = load_table(spark, SF, "documents")
    df = decontaminate(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # eval docs never appear in the flagged output
    flagged = {r["doc_id"] for r in df.collect()}
    assert all(d % 37 != 0 for d in flagged)
    assert flagged  # synthetic corpus shares template n-grams


def test_repetition_stats_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    # tokens: a a a b -> 4 tokens, 2 distinct; 2-grams: "a a","a a","a b"
    assert r1["n_tokens"] == 4
    assert abs(r1["distinct_token_ratio"] - 0.5) < 1e-9
    assert abs(r1["top_token_fraction"] - 0.75) < 1e-9
    assert abs(r1["dup_2gram_fraction"] - round(1 - 2 / 3, 4)) < 1e-9
    r2 = rows[2]
    assert r2["distinct_token_ratio"] == 1.0
    assert r2["dup_2gram_fraction"] == 0.0


def test_redact_pii_hand_case(spark):
    from identity_matching_spark.operators.corpus_prep import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@ex-ample.org or 555-123-4567"),
            (2, "ssn 123-45-6789 from host 10.0.0.1"),
            (3, "clean text, no identifiers here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert rows[2]["n_ssn"] == 1 and rows[2]["n_ipv4"] == 1
    assert rows[3]["n_email"] == rows[3]["n_ssn"] == 0
    # redaction is a pure projection: no exchange in the plan
    plan = redact_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii_sequential_counts(spark):
    """An SSN-shaped string inside an email must be counted/redacted as
    email (the chain runs email first), not double-counted."""
    from identity_matching_spark.operators.corpus_prep import redact_pii

    docs = spark.createDataFrame([(1, "report 123-45-6789@leak.example.com")],
                                 ["doc_id", "text"])
    r = redact_pii(docs).collect()[0]
    assert r["n_email"] == 1
    assert r["n_ssn"] == 0


def test_pack_sequences_matches_single_window(spark):
    from identity_matching_spark.operators.corpus_prep import pack_sequences

    docs = load_table(spark, SF, "documents")
    got = sorted(map(tuple, pack_sequences(docs, budget=64).collect()))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "),
        lambda x: x != "",
    )
    base = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    want_df = base.withColumn(
        "tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).select(
        "doc_id",
        "n_tokens",
        "tok_offset",
        (F.col("tok_offset") / 64).cast("long").alias("seq_first"),
        F.when(
            F.col("n_tokens") > 0,
            ((F.col("tok_offset") + F.col("n_tokens") - 1) / 64).cast("long"),
        ).otherwise((F.col("tok_offset") / 64).cast("long")).alias("seq_last"),
    )
    want = sorted(map(tuple, want_df.collect()))
    assert got == want
    # offsets are a packing: contiguous, non-overlapping, gap-free
    rows = sorted(pack_sequences(docs, budget=64).collect(), key=lambda r: r["tok_offset"])
    acc = 0
    for r in rows:
        assert r["tok_offset"] == acc
        acc += r["n_tokens"]


def test_corpus_mix_shares_sum_to_one(spark):
    from identity_matching_spark.operators.corpus_prep import corpus_mix

    docs = load_table(spark, SF, "documents")
    rows = corpus_mix(docs).collect()
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-4
    assert sum(r["n_docs"] for r in rows) == docs.count()
