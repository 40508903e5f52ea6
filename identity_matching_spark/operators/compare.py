"""Pairwise comparators: candidate pairs -> feature (flag) vector.

Port of the reference's scoring loops (IdentityMatching.java:285-481) to
vectorized Column expressions over a pair DataFrame. Each reference flag
is an EXISTS over element pairs (sticky boolean setters,
IdentityMatchingScorer.java:96-234) — here ``arrays_overlap`` / equality
on pre-derived attributes, evaluated in whole-stage codegen. NULL on
either side is "no match" (the reference's loops simply never fire),
hence every flag is wrapped in explicit NOT NULL guards so the same SQL
evaluates identically in the DuckDB oracle.

Deliberate divergences from the reference, documented per SURVEY.md §2.11:

* C2 (SSN4 vs full SSN) and C6 (middle initial) are query-side-asymmetric
  in the server (a query carries only last-4 / only an initial). Batch
  all-pairs linkage has no query side, so both are symmetrized:
  last-4-of-full == last-4-of-full; initial rule fires when EITHER side's
  middle is single-char.
* Scoring remains case-sensitive exact on raw attributes while blocking
  normalized — the reference's asymmetry, preserved.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.operators.driver_finish import (
    broadcasts,
    collect_small,
    join_side,
    local_relation,
)

# Columns each side of a pair needs for comparison. Every scalar is an
# 8-byte long: identity attributes ride as h64 twins (see
# operators/normalize.py H64_PAIRS), path tokens (stem/dir1/dir2/
# parent_dir/ext) as xxhash64 twins, and the substring comparators hash
# AFTER the substring (postal5_h64 = hash of the stem's first-5, C11;
# dir2_init_h64 = hash of dir2's first char, C6) so prefix-equality
# semantics survive while no string rides the probe row. line_hashes
# (C9, arrays_overlap) is the one variable-width field left. Rationale:
# the scoring kernel's single-host scaling binder is the resident
# broadcast-probe working set (BENCH/BASELINE.md memory-ceiling note) —
# all-long rows are both smaller and fixed-offset to decode.
ATTR_COLS = [
    "record_id", "content_h64", "file_h64", "norm_h64", "ssn4_h64",
    "stem_h64", "postal5_h64", "ext_h64", "dir1_h64", "dir2_h64",
    "dir2_init_h64", "dir2_is1", "parent_dir_h64", "lang_h64",
    "size_bucket", "first_line_h64", "last_line_h64", "line_hashes",
    "sorted_lines_h64", "shape_h64", "ins_member_h64", "ins_subscriber_h64",
]

# (flag name, attribute, comparison kind)
FLAG_NAMES = [
    "mrn_match", "digital_id_match", "ssn_match", "ssn_last4_match",
    "drivers_license_match", "passport_match", "insurance_member_match",
    "insurance_subscriber_match", "family_name_match", "first_name_match",
    "middle_name_match", "middle_initial_match", "birth_sex_match",
    "birth_date_match", "phone_match", "email_match", "address_line_match",
    "address_city_match", "address_state_match", "address_postal_match",
]


def _eq(l: Column, r: Column) -> Column:
    """Null-safe 'both present and equal' (reference loops skip nulls)."""
    return l.isNotNull() & r.isNotNull() & (l == r)


def attach_sides(
    pairs: DataFrame,
    records: DataFrame,
    n_records: int | None = None,
    cols: list[str] | None = None,
) -> DataFrame:
    """Join attributes onto both sides of the pair list, keyed on the dense
    record ids: ``left_didx``/``right_didx`` on the pairs, ``didx`` on the
    records (``normalize.with_dense_ids``).

    records is projected to the comparator columns first so the joined
    payload is minimal (no content strings cross the wire). Every pair
    column passes through; each side's attributes arrive as ``l_*``/``r_*``.

    Spark's LongHashedRelation turns the dense long key space into a
    direct-address array (LongToUnsafeRowMap dense mode): each probe is one
    indexed load instead of a hash-bucket walk. The records side goes
    through ``driver_finish.join_side``: a known ``n_records`` up to
    ``config.BROADCAST_ROWS`` broadcasts (zero pair-stream shuffles);
    large or uncounted ones shuffle-hash (two slim exchanges keyed on
    8-byte longs — unavoidable for arbitrary pair lists). Either way ONE
    relation is probed from both sides: the two join children are the
    same plan subtree (only the SubqueryAlias differs, which
    canonicalization strips), so the second broadcast is planned as a
    ReusedExchange — one build, one in-memory copy per executor. The
    broadcast relation is what the kernel hammers per pair, and a smaller
    resident set is the difference between L3 hits and DRAM misses at high
    thread counts. Column aliasing happens AFTER each join via qualified
    refs, so no per-side projection breaks the subtree identity
    (plan-asserted in test_fuzzy.py)."""
    cols = list(cols or ATTR_COLS)
    side_cols = [c for c in cols if c != "record_id"]
    rel = join_side(records.select("didx", *side_cols), n_records)
    lhs, rhs = rel.alias("_atl"), rel.alias("_atr")
    return (
        pairs
        .join(lhs, F.col("left_didx") == F.col("_atl.didx"), "inner")
        .join(rhs, F.col("right_didx") == F.col("_atr.didx"), "inner")
        .select(
            *[F.col(c) for c in pairs.columns],
            *[F.col(f"_atl.{c}").alias(f"l_{c}") for c in side_cols],
            *[F.col(f"_atr.{c}").alias(f"r_{c}") for c in side_cols],
        )
    )


def comparator_flags() -> dict[str, Column]:
    """The C1-C13 flag expressions over an attached pair row.

    Citations: identifier matching IdentityMatching.java:304-354, names
    :357-397, birth sex/date :399-411, address :414-433, telecom :436-453.
    """
    L = lambda c: F.col(f"l_{c}")  # noqa: E731
    R = lambda c: F.col(f"r_{c}")  # noqa: E731

    middle_initial = (
        L("dir2_init_h64").isNotNull() & R("dir2_init_h64").isNotNull()
        & (L("dir2_is1") | R("dir2_is1"))
        & (L("dir2_init_h64") == R("dir2_init_h64"))
    )

    return {
        "mrn_match": _eq(L("content_h64"), R("content_h64")),
        "digital_id_match": _eq(L("file_h64"), R("file_h64")),
        "ssn_match": _eq(L("norm_h64"), R("norm_h64")),
        "ssn_last4_match": _eq(L("ssn4_h64"), R("ssn4_h64")),
        "drivers_license_match": _eq(L("sorted_lines_h64"), R("sorted_lines_h64")),
        "passport_match": _eq(L("shape_h64"), R("shape_h64")),
        "insurance_member_match": _eq(L("ins_member_h64"), R("ins_member_h64")),
        "insurance_subscriber_match": _eq(L("ins_subscriber_h64"), R("ins_subscriber_h64")),
        "family_name_match": _eq(L("stem_h64"), R("stem_h64")),
        "first_name_match": _eq(L("dir1_h64"), R("dir1_h64")),
        "middle_name_match": _eq(L("dir2_h64"), R("dir2_h64")),
        "middle_initial_match": middle_initial,
        "birth_sex_match": _eq(L("lang_h64"), R("lang_h64")),
        "birth_date_match": _eq(L("size_bucket"), R("size_bucket")),
        "phone_match": _eq(L("first_line_h64"), R("first_line_h64")),
        "email_match": _eq(L("last_line_h64"), R("last_line_h64")),
        "address_line_match": (
            L("line_hashes").isNotNull() & R("line_hashes").isNotNull()
            & F.arrays_overlap(L("line_hashes"), R("line_hashes"))
        ),
        "address_city_match": _eq(L("parent_dir_h64"), R("parent_dir_h64")),
        "address_state_match": _eq(L("ext_h64"), R("ext_h64")),
        "address_postal_match": _eq(L("postal5_h64"), R("postal5_h64")),
    }


def compare_pairs(
    pairs: DataFrame,
    records: DataFrame,
    n_records: int | None = None,
) -> DataFrame:
    """pairs(left_id, right_id, left_didx, right_didx) -> the pair columns
    plus one bool col per flag."""
    attached = attach_sides(pairs, records, n_records)
    flags = comparator_flags()
    return attached.select(
        *pairs.columns,
        *[F.coalesce(expr, F.lit(False)).alias(name) for name, expr in flags.items()],
    )


# --- match messages (A3) ----------------------------------------------------

# Per-flag human-readable messages, verbatim from
# IdentityMatchingScorer.java:98-231 (incl. the missing period on the
# state message). The reference emits the distinct messages in setter-
# invocation order; each flag fires at most once here, so a filtered
# array in FLAG_NAMES order is the same distinct set.
MATCH_MESSAGES: list[tuple[str, str]] = [
    ("mrn_match", "A matching medical record number was found."),
    ("digital_id_match", "A matching digital identifier was found."),
    ("ssn_match", "A matching social security number was found."),
    ("ssn_last4_match", "A matching social security number (last 4 digits) was found."),
    ("drivers_license_match", "A matching drivers license number was found."),
    ("passport_match", "A matching passport number was found."),
    ("insurance_member_match", "A matching insurance member was found."),
    ("insurance_subscriber_match", "A matching insurance subscriber was found."),
    ("family_name_match", "A matching last name was found."),
    ("first_name_match", "A matching first name was found."),
    ("middle_name_match", "A matching middle name was found."),
    ("middle_initial_match", "A matching middle initial was found."),
    ("birth_sex_match", "A matching birth sex was found."),
    ("birth_date_match", "A matching birthdate was found."),
    ("phone_match", "A matching phone number was found."),
    ("email_match", "A matching email address was found."),
    ("address_line_match", "A matching address line of residence was found."),
    ("address_city_match", "A matching city of residence was found."),
    ("address_state_match", "A matching state of residence was found"),
    ("address_postal_match", "A matching postal code (first 5 digits) was found."),
]


def match_messages_expr() -> Column:
    """array<string> of messages for the fired flags (A3,
    IdentityMatchingScorer.java:91-93 getMatchMessages distinct)."""
    return F.filter(
        F.array(
            *[
                F.when(F.col(flag), F.lit(msg)).otherwise(F.lit(None).cast("string"))
                for flag, msg in MATCH_MESSAGES
            ]
        ),
        lambda x: x.isNotNull(),
    )


# --- fuzzy extension (C14-C16) ----------------------------------------------

PHONETIC_COLS = ["cologne_dir1", "soundex_stem", "metaphone_stem"]
#: 8-byte twins of the phonetic codes — what the scoring kernel's probe
#: rows actually carry (the codes are equality-only comparators C14-C16;
#: the string codes stay on the record relation for oracle/inspection).
PHONETIC_H64_COLS = ["cologne_h64", "soundex_h64", "metaphone_h64"]


def phonetic_keys() -> list[Column]:
    """The normalized values the phonetic codes are taken of: ``_nd1``
    (the given-name analog ``dir1``) and ``_nst`` (the family-name analog
    ``stem``)."""
    from identity_matching_spark.functions.normalize import hapi_norm

    return [hapi_norm(F.col("dir1")).alias("_nd1"), hapi_norm(F.col("stem")).alias("_nst")]


def phonetic_codes(given: list, family: list) -> tuple[list, list]:
    """Driver-side ``cologne_dir1`` of ``given`` and ``metaphone_stem`` of
    ``family``, value for value. Each distinct value is encoded once; None
    stays None."""
    from identity_matching_spark.functions.phonetic import cologne_encode, metaphone_encode

    def encode(values: list, fn) -> list:
        codes = {v: fn(v) for v in set(values) if v is not None}
        return [codes.get(v) for v in values]

    return encode(given, cologne_encode), encode(family, metaphone_encode)


def with_soundex_twins(records: DataFrame) -> DataFrame:
    """Finish records that carry ``cologne_dir1`` and ``metaphone_stem``:
    ``soundex_stem`` (Spark's builtin over the normalized stem) and the
    three h64 twins, appended in that order."""
    from identity_matching_spark.functions.normalize import hapi_norm

    out = records.withColumn("soundex_stem", F.soundex(hapi_norm(F.col("stem"))))
    return out.select(
        "*",
        *[
            F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))).alias(h)
            for c, h in zip(PHONETIC_COLS, PHONETIC_H64_COLS)
        ],
    )


def enrich_phonetic(records: DataFrame) -> DataFrame:
    """Phonetic encodings per record: COLOGNE on the given-name analog,
    SOUNDEX/METAPHONE on the family-name analog (mdm-rules.json:25-42).

    Soundex is Spark's builtin (pure JVM). Cologne and metaphone run once
    per DISTINCT normalized value and broadcast-join back, so the record
    stream never crosses into Python. Name-analog vocabularies are
    Zipfian and tiny relative to the corpus: up to
    ``config.DRIVER_FINISH_ROWS`` distinct values (both columns together)
    are collected once and encoded on the driver with
    ``phonetic_codes``; a larger vocabulary is encoded by the batched
    pandas UDFs over the cached distinct values, handed back as
    ``_phonetic_vocab_cache`` on the result (None on the driver path) for
    the caller to unpersist. The pipeline's records stage calls this only
    above the limit: below it ``normalize.with_dense_ids(phonetic=True)``
    finishes the codes from the dense-id collect.
    """
    from identity_matching_spark.functions.phonetic import cologne_udf, metaphone_udf

    base = records.select("*", *phonetic_keys())
    d1 = base.select(F.col("_nd1")).where(F.col("_nd1").isNotNull()).distinct()
    st = base.select(F.col("_nst")).where(F.col("_nst").isNotNull()).distinct()
    vocab_df = d1.select(F.lit(True).alias("_given"), F.col("_nd1").alias("_v")).unionByName(
        st.select(F.lit(False).alias("_given"), F.col("_nst").alias("_v"))
    )
    vocab, vocab_cache = collect_small(vocab_df)
    if vocab is not None:
        spark = records.sparkSession
        given = [r["_v"] for r in vocab if r["_given"]]
        family = [r["_v"] for r in vocab if not r["_given"]]
        cologne, metaphone = phonetic_codes(given, family)
        cologne_tab = local_relation(
            spark, {"_nd1": given, "cologne_dir1": cologne}, "_nd1 string, cologne_dir1 string"
        )
        metaphone_tab = local_relation(
            spark,
            {"_nst": family, "metaphone_stem": metaphone},
            "_nst string, metaphone_stem string",
        )
    else:
        cologne_tab = vocab_df.where(F.col("_given")).select(
            F.col("_v").alias("_nd1"), cologne_udf(F.col("_v")).alias("cologne_dir1")
        )
        metaphone_tab = vocab_df.where(~F.col("_given")).select(
            F.col("_v").alias("_nst"), metaphone_udf(F.col("_v")).alias("metaphone_stem")
        )
    out = with_soundex_twins(
        base.join(F.broadcast(cologne_tab), "_nd1", "left")
        .join(F.broadcast(metaphone_tab), "_nst", "left")
        .drop("_nd1", "_nst")
    )
    out._phonetic_vocab_cache = vocab_cache
    return out


FUZZY_FLAG_NAMES = [
    "cologne_given_match", "soundex_family_match", "metaphone_family_match",
    "jw_family_match", "lev_family_match",
]


def jw_stem_table(
    pairs: DataFrame,
    records: DataFrame,
    n_records: int | None = None,
) -> DataFrame:
    """Jaro-Winkler + Levenshtein-ratio per DISTINCT unequal stem pair —
    not per candidate pair.

    Blocked candidate pairs repeat the same (l_stem, r_stem) combination
    millions of times (hot stems), so evaluating Jaro-Winkler per pair
    would make Python the non-scaling fraction of the scoring kernel.
    Instead: project a slim (didx, stem) map, derive the distinct unequal
    stem pairs seen by the candidate list (map-side combine keeps that
    shuffle tiny), score each distinct pair once, and join the values
    back. The pair stream never crosses into Python; equal-stem pairs
    (the majority under stem-family blocking) are JW=1.0 (and lev-ratio
    1.0) by definition and never even reach this table. Levenshtein rides
    here too: the builtin is JVM-side but still O(|s|²) DP per evaluation
    — evaluating it once per distinct unequal pair instead of once per
    candidate pair removes ~90M DP runs at sf0.1.

    Up to ``config.DRIVER_FINISH_ROWS`` distinct pairs are collected once
    and scored on the driver with ``similarity.jaro_winkler`` into a
    local relation. A larger table is scored by the batched pandas UDF
    over the cached distinct pairs, then persisted and counted once. The
    returned frame carries its row count (``n_rows``) either way, and the
    persisted table (``jw_stem_cache``, None on the driver path) for the
    caller to unpersist.

    Rows are CANONICALIZED to (least(stem), greatest(stem)): Jaro-Winkler
    and Levenshtein-ratio are both symmetric, so one orientation serves
    both — halving the distinct set, the partial-agg hash maps, the
    Jaro-Winkler calls, and the broadcast that ships the values back.
    Probe sides canonicalize the same way. The (didx, stem) maps join
    through ``driver_finish.join_side`` on ``n_records`` (None, unknown,
    shuffle-hashes them).
    """
    from identity_matching_spark.functions.similarity import (
        jaro_winkler,
        jaro_winkler_udf,
        levenshtein_ratio,
    )
    # stem maps keyed on didx: probes hit the dense long hash relation, no
    # id-string hashing on this scan
    l, r = (
        join_side(
            records.select(F.col("didx").alias(f"{side}_didx"), F.col("stem").alias(stem)),
            n_records,
        )
        for side, stem in (("left", "_sl"), ("right", "_sr"))
    )
    distinct_pairs = (
        pairs.select("left_didx", "right_didx")
        .join(l, "left_didx").join(r, "right_didx")
        .where(
            F.col("_sl").isNotNull()
            & F.col("_sr").isNotNull()
            & (F.col("_sl") != F.col("_sr"))
        )
        .select(
            F.least("_sl", "_sr").alias("l_stem"),
            F.greatest("_sl", "_sr").alias("r_stem"),
        )
        .distinct()
    )
    rows, distinct_cache = collect_small(distinct_pairs)
    if rows is not None:
        ls, rs = [r["l_stem"] for r in rows], [r["r_stem"] for r in rows]
        scored = local_relation(
            records.sparkSession,
            {"l_stem": ls, "r_stem": rs,
             "jw_stem_val": [jaro_winkler(a, b) for a, b in zip(ls, rs)]},
            "l_stem string, r_stem string, jw_stem_val double",
        )
    else:
        scored = distinct_pairs.withColumn(
            "jw_stem_val", jaro_winkler_udf(F.col("l_stem"), F.col("r_stem"))
        )
    out = (
        scored
        .withColumn("lev_stem_val", levenshtein_ratio(F.col("l_stem"), F.col("r_stem")))
        # join keys for the kernel's probe side, which carries only the
        # stems' xxhash64 twins (normalize.stem_h64): the canonical
        # unordered pair re-keyed by hash order. JW/lev are symmetric, so
        # hash-order == string-order rows carry the same value.
        .withColumn(
            "jh_lo", F.least(F.xxhash64("l_stem"), F.xxhash64("r_stem"))
        )
        .withColumn(
            "jh_hi", F.greatest(F.xxhash64("l_stem"), F.xxhash64("r_stem"))
        )
    )
    if rows is not None:
        out.n_rows, out.jw_stem_cache = len(rows), None
    else:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out.n_rows, out.jw_stem_cache = out.count(), out
        if distinct_cache is not None:
            distinct_cache.unpersist()
    return out


def compare_pairs_fuzzy(
    pairs: DataFrame,
    records: DataFrame,
    config,
    jw_pairs: DataFrame | None = None,
    n_records: int | None = None,
) -> DataFrame:
    """Exact flag vector + fuzzy comparator flags.

    Phonetic-equality flags compare precomputed record attributes (cheap);
    Jaro-Winkler AND Levenshtein-ratio values come from ``jw_stem_table``
    (one evaluation per distinct unequal stem pair, broadcast-joined back
    when small; equal stems are 1.0 by definition). Fuzzy columns append
    AFTER the exact flags so the exact schema/decision table is unchanged.

    ``jw_pairs``: optional deduplicated source for the distinct-stem-pair
    table. The table is a DISTINCT over the pairs' stem combinations, so
    any relation with the same pair SET (e.g. the unreplicated scan when
    ``pairs`` is a replicated stream, or a pre-deduped union) yields an
    identical table while scanning fewer rows. Defaults to ``pairs``.

    ``n_records``: the records' row count when the caller holds it (the
    pipeline's records stage). None means unknown: every records-side
    join then shuffle-hashes instead of running a count job.
    """
    # Enrich only if the caller didn't already (pipelines enrich once at
    # normalize time — keeps this join side a plain relation, so Catalyst
    # can broadcast it when small instead of shuffling the huge pair list).
    # Every producer of the codes also adds their h64 twins.
    enriched = records if "cologne_h64" in records.columns else enrich_phonetic(records)
    cols = ATTR_COLS + PHONETIC_H64_COLS
    # Two known sizes drive every join choice below, through
    # driver_finish.join_side. The JW table carries its row count,
    # driver-finished or persisted and counted.
    jwtab = jw_stem_table(jw_pairs if jw_pairs is not None else pairs, enriched, n_records)
    n_jw = jwtab.n_rows

    if broadcasts(n_records) and broadcasts(n_jw, stem_pairs=True):
        # Broadcast regime: the whole kernel is ONE codegen pass over the
        # pair stream — scan -> 3 broadcast probes -> flags -> partial
        # agg, zero pair-stream exchanges. Attach attrs FIRST (the stem
        # h64 twins arrive with them — no separate stem probes), then look
        # up JW/lev through a LONG-keyed hash relation: the probe key is
        # xxhash64 over the hash-ordered stem-twin pair, NULL for
        # equal-stem pairs so the majority of the stream skips the probe
        # entirely; the (jh_lo, jh_hi) equality on hash hits pins the
        # match to the same 2^-64 h64 equality class the C3 comparator
        # itself uses — no strings ride the probe rows at all.
        attached_aw = attach_sides(pairs, enriched, n_records, cols=cols)
        jwb = join_side(
            jwtab.select(
                F.xxhash64("jh_lo", "jh_hi").alias("_jk"),
                "jh_lo", "jh_hi",
                "jw_stem_val",
                "lev_stem_val",
            ),
            n_jw, stem_pairs=True,
        )
        # canonical hash-ordered orientation — the table stores each
        # unordered stem pair once (JW/lev are symmetric)
        cl = F.least("l_stem_h64", "r_stem_h64")
        cg = F.greatest("l_stem_h64", "r_stem_h64")
        probe_jk = F.when(
            F.col("l_stem_h64").isNull()
            | F.col("r_stem_h64").isNull()
            | (F.col("l_stem_h64") == F.col("r_stem_h64")),
            F.lit(None).cast("long"),
        ).otherwise(F.xxhash64(cl, cg))
        attached = (
            attached_aw.withColumn("_jkp", probe_jk)
            .join(
                jwb,
                (F.col("_jkp") == jwb["_jk"])
                & (cl == jwb["jh_lo"])
                & (cg == jwb["jh_hi"]),
                "left",
            )
            .drop("_jkp", "_jk", "jh_lo", "jh_hi")
        )
    else:
        # Fallback regime (records side or JW table too big to broadcast):
        # JW/lev values join onto the SLIM (didx, stems) pair projection
        # BEFORE the wide attribute attach — the stem-pair join is a
        # shuffle there, and shuffling the fully-attached stream (both
        # sides' attrs incl. line-hash arrays, ~0.5-1 KB/pair) by stem pair
        # costs an order more bytes than shuffling (ids, stems).
        sl, sr = (
            join_side(
                enriched.select(F.col("didx").alias(f"{side}_didx"), F.col("stem").alias(stem)),
                n_records,
            )
            for side, stem in (("left", "_jl"), ("right", "_jr"))
        )
        pairs_stems = pairs.join(sl, "left_didx").join(sr, "right_didx")
        jw_side = join_side(jwtab, n_jw, stem_pairs=True)
        pairs_jw = pairs_stems.join(
            jw_side,
            (F.least("_jl", "_jr") == jw_side["l_stem"])
            & (F.greatest("_jl", "_jr") == jw_side["r_stem"]),
            "left",
        ).select(*pairs.columns, "jw_stem_val", "lev_stem_val")
        attached = attach_sides(pairs_jw, enriched, n_records, cols=cols)
    flags = comparator_flags()
    # same equality class as the C3 family comparator (stem_h64 twins)
    stems_equal = _eq(F.col("l_stem_h64"), F.col("r_stem_h64"))
    jw = F.when(stems_equal, F.lit(1.0)).otherwise(F.col("jw_stem_val"))
    # Equal stems are lev-ratio 1.0 by definition; unequal pairs carry the
    # value from the distinct-pair table — bit-identical to evaluating the
    # builtin per pair (same function, same inputs), without 90M DP runs.
    lev = F.when(stems_equal, F.lit(1.0)).otherwise(F.col("lev_stem_val"))
    out = attached.select(
        *pairs.columns,
        *[F.coalesce(expr, F.lit(False)).alias(name) for name, expr in flags.items()],
        F.coalesce(_eq(F.col("l_cologne_h64"), F.col("r_cologne_h64")), F.lit(False)).alias(
            "cologne_given_match"
        ),
        F.coalesce(_eq(F.col("l_soundex_h64"), F.col("r_soundex_h64")), F.lit(False)).alias(
            "soundex_family_match"
        ),
        F.coalesce(
            _eq(F.col("l_metaphone_h64"), F.col("r_metaphone_h64")), F.lit(False)
        ).alias("metaphone_family_match"),
        F.coalesce(jw >= F.lit(config.jaro_winkler_threshold), F.lit(False)).alias(
            "jw_family_match"
        ),
        F.coalesce(lev >= F.lit(config.levenshtein_ratio_threshold), F.lit(False)).alias(
            "lev_family_match"
        ),
        F.round(F.coalesce(jw, F.lit(0.0)), 4).alias("jw_family_sim"),
        F.round(F.coalesce(lev, F.lit(0.0)), 4).alias("lev_family_sim"),
    )
    # Hand a persisted JW table back on the result so long-lived sessions
    # (bench sweeps, repeated calls) can unpersist it after materializing
    # the scored output — otherwise the cached blocks accumulate until
    # clearCache. None when the table was finished on the driver (nothing
    # cached). Callers: PipelineResult.cleanup / bench kernel.
    out.jw_stem_cache = jwtab.jw_stem_cache
    return out
