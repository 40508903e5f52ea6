"""Grading: comparator flags -> match-quality score + weight + MDM verdict.

G1 — exact port of the first-match decision cascade at
IdentityMatchingScorer.java:38-69 (tiers 0.99/0.80/0.70/0.60/0.10) as a
single ``F.when`` chain: pure Catalyst, short-circuiting in codegen, the
same shape as the Java if/else-if ladder.

G2 — the completeness weight at IdentityMatchingScorer.java:71-89
(also the arithmetic behind the IDI-Patient-L0/L1 validation tiers,
IdentityMatching.java:49-50).

G3 — the MDM verdict map (mdm-rules.json:43-46): given-name matcher alone
=> POSSIBLE_MATCH; given+family matchers => MATCH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.config import (
    GRADE_CERTAIN,
    GRADE_NONE,
    GRADE_POSSIBLE,
    GRADE_PROBABLE,
    GRADE_WEAK,
)


def grade_expr() -> Column:
    """The decision table, IdentityMatchingScorer.java:38-69, verbatim."""
    c = F.col
    ff = c("first_name_match") & c("family_name_match")
    ffd = ff & c("birth_date_match")
    tier99 = (
        (c("mrn_match") | c("digital_id_match"))
        | (ff & c("drivers_license_match"))
        | (ff & c("passport_match"))
        | (ff & c("insurance_member_match"))
        | (ffd & c("insurance_subscriber_match"))
        | (ff & c("ssn_match"))
    )
    tier80 = (
        (ff & c("insurance_subscriber_match"))
        | (ffd & c("address_line_match") & c("address_postal_match"))
        | (ffd & c("address_line_match") & c("address_city_match") & c("address_state_match"))
        | (ffd & c("email_match"))
    )
    tier70 = (
        (ffd & c("birth_sex_match") & c("ssn_last4_match"))
        | (ffd & c("birth_sex_match") & c("phone_match"))
        | (ffd & c("birth_sex_match") & c("address_postal_match"))
        | (ffd & c("birth_sex_match") & c("middle_name_match"))
        | (ffd & c("phone_match"))
    )
    tier60 = (
        (ffd & c("birth_sex_match") & c("middle_initial_match"))
        | (ffd & c("birth_sex_match"))
        | ffd
    )
    return (
        F.when(tier99, F.lit(GRADE_CERTAIN))
        .when(tier80, F.lit(GRADE_PROBABLE))
        .when(tier70, F.lit(GRADE_POSSIBLE))
        .when(tier60, F.lit(GRADE_WEAK))
        .otherwise(F.lit(GRADE_NONE))
    )


def weight_expr() -> Column:
    """Completeness weight, IdentityMatchingScorer.java:71-89."""
    c = F.col
    w5 = (
        (c("address_line_match") & c("address_postal_match"))
        | (c("address_city_match") & c("address_state_match"))
        | c("phone_match")
        | c("email_match")
        | c("ssn_match")
        | c("insurance_subscriber_match")
        | c("mrn_match")
    )
    return (
        F.when(c("passport_match"), 10).otherwise(0)
        + F.when(c("drivers_license_match"), 10).otherwise(0)
        + F.when(w5, 5).otherwise(0)
        + F.when(c("first_name_match") & c("family_name_match"), 3).otherwise(0)
        + F.when(c("birth_date_match"), 2).otherwise(0)
    ).cast("int")


def mdm_verdict_expr(given_flag: str = "first_name_match", family_flag: str = "family_name_match") -> Column:
    """matchResultMap, mdm-rules.json:43-46."""
    given, family = F.col(given_flag), F.col(family_flag)
    return (
        F.when(given & family, F.lit("MATCH"))
        .when(given, F.lit("POSSIBLE_MATCH"))
        .otherwise(F.lit("NO_MATCH"))
    )


def mdm_phonetic_verdict_expr() -> Column:
    """matchResultMap over the phonetic matchers the reference actually
    configures (mdm-rules.json:25-46): COLOGNE given-name matcher alone
    => POSSIBLE_MATCH; plus SOUNDEX family matcher => MATCH."""
    given = F.col("cologne_given_match")
    family = F.col("soundex_family_match")
    return (
        F.when(given & family, F.lit("MATCH"))
        .when(given, F.lit("POSSIBLE_MATCH"))
        .otherwise(F.lit("NO_MATCH"))
    )


def grade_pairs(flagged: DataFrame) -> DataFrame:
    """Attach score / weight / verdict to a comparator-flag DataFrame.

    The A3 ``match_messages`` column is not added here: the pipeline
    derives it over the slim graded relation
    (``plans.pipeline.with_match_messages``), and the driver's
    scored_pairs oracle query keeps the scalar-only schema."""
    out = flagged.select(
        "*",
        grade_expr().alias("score"),
        weight_expr().alias("weight"),
        mdm_verdict_expr().alias("verdict"),
    )
    if "cologne_given_match" in flagged.columns:
        out = out.withColumn("verdict_phonetic", mdm_phonetic_verdict_expr())
    return out
