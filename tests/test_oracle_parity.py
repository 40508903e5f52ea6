"""Local mimic of the driver's correctness gate for the newest oracle
twins: run the Spark query AND its DuckDB oracle SQL side-by-side on the
sf0.001 tables, sort columns by name / rows by value, compare exactly.

Also validates the pure-SQL phonetic encoders (oracle_sql._phonetic_cte)
byte-for-byte against the python encoders over the real stem/dir1
vocabulary plus the German vectors — the guarantee the fuzzy oracle
relies on.
"""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from identity_matching_spark import oracle_sql as OS
from identity_matching_spark.functions.phonetic import cologne_encode, soundex_encode

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalized(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


# scored_pairs and pipeline_full_portable score over the didx-keyed attach
# (the only key the engine has) and check it value-exact against DuckDB.
@pytest.mark.parametrize(
    "name", ["scored_pairs_fuzzy", "match_messages", "scored_pairs", "pipeline_full_portable"]
)
def test_query_matches_oracle(spark, name):
    q = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    got = _normalized(q(spark, SF).toPandas())
    want = _normalized(_duck().execute(sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        if got[c].dtype.kind == "f":
            assert (got[c] - want[c]).abs().max() < 1e-9, c
        else:
            assert (got[c] == want[c]).all(), c


def test_sql_phonetics_match_python():
    con = _duck()
    vocab = [r[0] for r in con.execute(
        OS.PRELUDE + " SELECT DISTINCT lower(trim(stem)) FROM records WHERE stem IS NOT NULL"
    ).fetchall()]
    vocab += ["müller-lüdenscheidt", "breschnew", "wikipedia", "meyer", "maier",
              "", "xavier", "cxc", "accent", "czar", "pfister", "schmidt",
              "hash_sort_2", "agg_small_6", "x9y", "aa__aa", "hhh"]
    c2 = duckdb.connect()
    c2.register("voc", pd.DataFrame({"w": vocab}))
    # reuse the exact CTE chain by aliasing voc as a one-column records table
    sql = ("WITH records AS (SELECT w AS record_id, w AS stem, w AS dir1 FROM voc),"
           + OS._phonetic_cte()
           + " SELECT record_id, soundex_stem, cologne_dir1 FROM phon")
    out = c2.execute(sql).df()
    from identity_matching_spark.functions.normalize import _ACCENTS, _PLAIN

    fold = str.maketrans(_ACCENTS, _PLAIN)
    for _, row in out.iterrows():
        w = row["record_id"]
        # hapi_norm is applied inside the CTE; mirror it here
        norm = w.translate(fold).lower().strip()
        assert row["soundex_stem"] == soundex_encode(norm), ("soundex", w)
        assert row["cologne_dir1"] == cologne_encode(norm), ("cologne", w)


def test_sql_metaphone_matches_python():
    """VERDICT r2 #9 / r3 #9: the recursive-CTE metaphone twin
    byte-for-byte vs functions/phonetic.metaphone_encode (commons-codec
    semantics since r4). Vocabulary stresses every branch: prefix
    rewrites (kn/gn/pn/ae/wr/wh/x-), silent classes (-MB, GH, GN, TCH,
    H-after-CSPTG), the X-emitting classes (CIA/SIO/SIA/TIO/TIA/SH/CH),
    SCH->K, DGE/DGI/DGY triple-advance, duplicate-skip incl. its 'c'
    exception, and the char-cap counting 'KS' as two ('xoxoxoxo'
    truncates to 4 chars mid-token). The commons-codec ground truth
    itself is pinned by test_functions.test_metaphone_commons_codec_parity."""
    from identity_matching_spark.functions.phonetic import metaphone_encode

    vocab = ["knight", "gnome", "pneumonia", "aeon", "wrist", "xavier",
             "xylophone", "church", "schmidt", "pfister", "thomas", "dodge",
             "judge", "ghost", "hugh", "right", "who", "what", "yellow", "y",
             "ae", "ssh", "chh", "ough", "xx", "xxx", "aaa", "cc", "ccc",
             "mississippi", "christopher", "xoxoxoxo", "accent", "czar",
             "mcknight", "ah", "oh", "hhh", "cch", "tch", "washington",
             "laughton", "edge", "edgy", "badger", "qqq", "vivid", "wyw",
             "meyer", "maier", "breschnew", "wikipedia", ""]
    # one guaranteed real-corpus sample so the twin is also checked against
    # the stems the driver gate actually sees
    con = _duck()
    vocab += [r[0] for r in con.execute(
        OS.PRELUDE + " SELECT DISTINCT lower(trim(stem)) FROM records"
        " WHERE stem IS NOT NULL LIMIT 200"
    ).fetchall()]
    c2 = duckdb.connect()
    c2.register("voc", pd.DataFrame({"w": sorted(set(vocab))}))
    sql = ("WITH RECURSIVE px1 AS (SELECT w AS record_id, w AS sx FROM voc),"
           + OS._metaphone_cte()
           + " SELECT record_id, metaphone_stem FROM met")
    out = c2.execute(sql).df()
    assert len(out) == len(set(vocab))
    for _, row in out.iterrows():
        w = row["record_id"]
        got = row["metaphone_stem"]
        want = metaphone_encode(w)
        assert got == want, (w, got, want)


def test_name_prefix_key_accent_fold_parity(spark):
    """VERDICT r2 #4: the name_prefix oracle CTE must fold accents with
    the same translate table as Spark's hapi_norm — checked on a
    non-ASCII vocabulary (the driver corpus is ASCII, so the driver gate
    alone would never catch a divergence here)."""
    from pyspark.sql import functions as F

    from identity_matching_spark.functions.normalize import _ACCENTS, _PLAIN, hapi_norm

    words = ["Münchner_Straße", "École", "naïve", " ÀÉÎÕÜ-file ", "plain",
             "Ångström", "señor", "Ürün", "ﬁle"]
    sdf = spark.createDataFrame([(w,) for w in words], ["stem"]).select(
        "stem", F.substring(hapi_norm(F.col("stem")), 1, 4).alias("prefix")
    )
    got = {r["stem"]: r["prefix"] for r in sdf.collect()}
    c2 = duckdb.connect()
    c2.register("voc", pd.DataFrame({"stem": words}))
    norm_stem = f"lower(trim(translate(stem, '{_ACCENTS}', '{_PLAIN}')))"
    want = dict(
        c2.execute(f"SELECT stem, substr({norm_stem}, 1, 4) FROM voc").fetchall()
    )
    assert got == want
