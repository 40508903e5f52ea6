"""Input-validation gate (P3-P6): weighted completeness tiers and the
runtime record filter.

The reference validates every incoming Patient against one of three
nested profiles — IDI-Patient (base), IDI-Patient-L0 (weight >= 9),
IDI-Patient-L1 (weight >= 10) — selected by the request's meta.profile,
and rejects records below the level unless a bypass header is present
(IdentityMatching.java:48-50 profile URLs, :519-560 runtime gate +
header override). Batch analog: ``validation_gate`` filters records
whose computed tier ranks below ``config.validation_level`` before any
blocking work; ``config.validation_override`` is the header-override
analog (gate bypassed, everything flows through).

Weights mirror the profile arithmetic (IdentityMatchingScorer.java:71-89
is the same scale): passport-analog 10, >=2 other identifiers 5 / one 4,
full name 3, birth-date-analog 2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tier order: anything below the configured level is filtered.
TIER_RANK = {"INVALID": 0, "BASE": 1, "L0": 2, "L1": 3}
VALIDATION_LEVELS = ("NONE",) + tuple(TIER_RANK)
#: Minimum completeness weight of the weighted profiles (IDI-Patient-L1,
#: IDI-Patient-L0). ``tier_expr`` and ``validation_gate`` both read it.
TIER_MIN_WEIGHT = {"L1": 10, "L0": 9}


def _present(c: str) -> Column:
    return F.col(c).isNotNull() & (F.col(c) != "")


def completeness_weight_expr() -> Column:
    """P4: weighted input completeness over the derived record attrs."""
    n_other = (
        _present("norm_sha").cast("int")
        + _present("ins_member_sha").cast("int")
        + _present("ins_subscriber_sha").cast("int")
    )
    return (
        F.when(_present("shape_sha"), 10).otherwise(0)
        + F.when(n_other == 1, 4).when(n_other > 1, 5).otherwise(0)
        + F.when(_present("stem") & _present("dir1"), 3).otherwise(0)
        + F.when(F.col("size_bucket").isNotNull(), 2).otherwise(0)
    ).cast("int")


def base_valid_expr() -> Column:
    """P3/P5: the base-profile predicate (identifier OR full name OR
    birth-date analog present — name-presence guard subsumed)."""
    return (
        _present("content_sha256")
        | (_present("stem") & _present("dir1"))
        | F.col("size_bucket").isNotNull()
    )


def tier_expr(weight: Column | None = None) -> Column:
    """P4 tier classification: L1 (>=10) > L0 (>=9) > BASE > INVALID."""
    w = completeness_weight_expr() if weight is None else weight
    return (
        F.when(w >= TIER_MIN_WEIGHT["L1"], "L1")
        .when(w >= TIER_MIN_WEIGHT["L0"], "L0")
        .when(base_valid_expr(), "BASE")
        .otherwise("INVALID")
    )


def validation_gate(records: DataFrame, config) -> DataFrame:
    """P6 runtime gate: drop records below ``config.validation_level``
    before blocking (so an INVALID record can never produce a pair), or
    pass everything when the level is NONE / the override is set.

    The gate is one predicate that evaluates the completeness weight
    once, straight from the tier thresholds: a record ranks at least L1
    or L0 exactly when its weight reaches that tier's minimum, and at
    least BASE when it ranks at least L0 or passes the base profile.
    Every record ranks at least INVALID, so that level filters nothing.
    Keep it that small: filter pushdown inlines normalize's projections
    (the ``sha2``/``regexp_replace`` hashes behind every weight column)
    into the predicate, and a predicate that repeats the tier
    classification grows the generated method past the JVM's 64 KB
    limit, which drops the whole normalize stage out of whole-stage
    codegen into interpreted mode.
    """
    level = getattr(config, "validation_level", "NONE")
    if level == "NONE" or getattr(config, "validation_override", False):
        return records
    if level not in TIER_RANK:
        raise ValueError(f"unknown validation_level {level!r}; use one of {VALIDATION_LEVELS}")
    if level == "INVALID":
        return records
    w = completeness_weight_expr()
    if level == "BASE":
        return records.filter((w >= TIER_MIN_WEIGHT["L0"]) | base_valid_expr())
    return records.filter(w >= TIER_MIN_WEIGHT[level])
