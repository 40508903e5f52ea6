"""Fuzzy string similarity (C16: HAPI MDM matcher algorithm slots —
Jaro-Winkler, Levenshtein; mdm-rules.json:30,38 'matcher.algorithm').

* ``levenshtein_ratio`` — pure Column: Spark's builtin edit distance
  normalized to 1 - dist/max_len. Stays in codegen.
* ``jaro_winkler`` — plain Python, evaluated once per DISTINCT unequal
  stem pair (``compare.jw_stem_table``): on the driver while that table
  is under ``config.DRIVER_FINISH_ROWS`` rows, so the default scoring
  path runs no Python worker at all.
* ``jaro_winkler_udf`` — the same function as a batched pandas UDF
  (Arrow transfer) for a distinct-pair table above that limit, applied
  AFTER the cheap exact filters and the distinct so Catalyst keeps
  scans/filters below the Python barrier (SURVEY.md §4.4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def levenshtein_ratio(l: Column, r: Column) -> Column:
    """1 - levenshtein/max(len) in [0,1]; 1.0 for two empty strings."""
    mx = F.greatest(F.length(l), F.length(r))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(l, r) / mx
    )


def jaro_winkler(s1: str | None, s2: str | None) -> float | None:
    """Jaro-Winkler similarity (Winkler 1990), standard prefix scale 0.1,
    max prefix 4. Public-domain algorithm."""
    if s1 is None or s2 is None:
        return None
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, ch in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    t = 0
    j = 0
    for i in range(n1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (matches / n1 + matches / n2 + (matches - t) / matches) / 3
    # Winkler prefix boost, applied only above the standard 0.7 boost
    # threshold (Winkler 1990) — also what DuckDB's builtin
    # jaro_winkler_similarity implements, which is the oracle twin.
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1 - jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched JW over a distinct-pair table (no pair repeats, so nothing
    to memoize)."""
    return pd.Series(
        [
            None if (x is None or y is None) else jaro_winkler(x, y)
            for x, y in zip(a.tolist(), b.tolist())
        ],
        dtype="float64",
    )
