"""Engine configuration.

Analog of the reference's declarative rule config ``mdm-rules.json``
(/root/reference/src/main/resources/mdm-rules.json:1-48) plus its
application properties (validation level, remote caps): a plain dataclass
the pipeline compiles into Column expressions — no runtime rule
interpreter, everything lands in Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


# Blocking-key families (reference: candidateSearchParams in mdm-rules.json:4-17
# and the conjunctive $match search, IdentityMatching.java:911-1053).
# Each family derives (blocking_key, record_id) rows; candidates are the
# union of per-family self-equi-joins, deduped (SURVEY.md J1/J4/A4/O5).
DEFAULT_BLOCKING = (
    "content_sha",   # exact content identity (MRN-analog strong key)
    "file_id",       # repo+path identity across commits (digital-id analog)
    "norm_sha",      # whitespace/case-normalized content identity (SSN analog)
    "name_prefix",   # lang + 4-char stem prefix (HAPI normalized starts-with, F4)
    "name_soundex",  # lang + soundex(stem) (mdm-rules.json:34-41 SOUNDEX matcher as key)
    "minhash_lsh",   # MinHash band signatures over content shingles (near-dup family)
)

#: Size policy: every choice between finishing a small relation on the
#: driver, broadcasting a join side and shuffle-hashing it reads one of the
#: limits below, at call time (operators/driver_finish.py: ``fits`` and
#: ``join_side``), so tests can force either side of each choice.
#:
#: Driver finish: a small relation is collected once, computed on the
#: driver and handed back as a broadcast local relation instead of running
#: as Spark jobs. Two limits, because the two kinds of driver work cost
#: different amounts per row (crossovers measured at local[4] on 4 vCPUs,
#: warm Spark session, median of 2 runs per path):
#:
#: * DRIVER_FINISH_ROWS: relations computed row by row in pure Python —
#:   the dense-id map (sort), the phonetic dictionaries (Cologne +
#:   Metaphone), the distinct-stem JW table (Jaro-Winkler) and blocking's
#:   guard keys. Driver vs distributed: JW 1.49 vs 1.97 s at 31k rows and
#:   3.44 vs 2.48 s at 105k (crossover ~55k); dense ids 0.58 vs 1.08 s at
#:   30k, 1.41 vs 1.23 s at 100k (~80k); phonetic 2.65 vs 3.27 s at 100k,
#:   7.0 vs 4.1 s at 300k (~135k); guard keys 9.8 vs 18.1 s at 50k (above
#:   50k). The limit sits under the lowest crossover.
#: * DRIVER_FINISH_EDGES: connected components' remaining edge set, which
#:   leaves the JVM as Arrow columns into a numpy union-find. The
#:   distributed star loop costs a few seconds per iteration at any size:
#:   driver vs distributed 1.1 vs 9.6 s at 100k edges, 6.5 vs 32 s at 1M.
#:   2M edges of long pairs are ~32 MB on the driver.
DRIVER_FINISH_ROWS = 50_000
DRIVER_FINISH_EDGES = 2_000_000

#: Broadcast vs shuffle-hash, for relations of a known row count (an
#: unknown count shuffle-hashes, never a hidden count job). The O(1)
#: count-based choice is deterministic: AQE would only downgrade an
#: exchange after the pair stream's map stage already ran.
#:
#: * BROADCAST_ROWS: every records-keyed join side — the (record_id, didx)
#:   map that dense-id interning joins back (~72 B/row, ~70 MB at the
#:   limit), blocking's (didx, record_id) re-attach, the scoring kernel's
#:   attribute relation (~400 B/row of comparator attributes, ~400 MB at
#:   the limit, inside one executor) and the JW table's (didx, stem) maps.
#:   Broadcasting the attribute relation removes every pair-stream
#:   exchange: serializing and compressing the wide pair x attrs rows was
#:   ~40% of scoring task time at sf0.1. Above it the side shuffle-hashes
#:   as the build relation: a sort-merge id join would SORT the wide
#:   pair x attrs intermediate (~930 task-seconds at sf0.1, an external
#:   sort spilling ~330 MB per task), while a shuffle-hash join only
#:   shuffles it.
#: * BROADCAST_STEM_PAIRS: the distinct unequal stem pair table
#:   (Jaro-Winkler and Levenshtein values). 8M rows of (stem, stem,
#:   double, double) are ~500 MB, inside a scoring executor, and far
#:   cheaper than a full slim exchange of the pair stream against a
#:   shuffled table.
BROADCAST_ROWS = 1_000_000
BROADCAST_STEM_PAIRS = 8_000_000

#: Dense-id bucket width above the driver finish (normalize.with_dense_ids):
#: one rank-window task sorts at most ~this many slim (record_id) rows, so
#: the prefix width is ceil(log16(n / DENSE_ID_BUCKET_ROWS)) nibbles, at
#: least 2. 4M ids x 72 B ≈ 300 MB per window partition, well inside an
#: executor; the bucket count grows with the input instead.
DENSE_ID_BUCKET_ROWS = 4_000_000


@dataclass(frozen=True)
class MatchConfig:
    # --- blocking ---
    blocking_families: tuple[str, ...] = DEFAULT_BLOCKING
    name_prefix_len: int = 4          # HAPI string-param prefix semantics (F4)
    # MinHash-LSH: num_perm signatures, grouped into bands of (num_perm/bands)
    # rows. 6 bands x 5 rows: P(candidate) = 1-(1-j^5)^6 — ~0.09 at j=0.5,
    # ~0.93 at j=0.9: selective for near-dups, cheap on unrelated docs.
    minhash_perms: int = 30
    lsh_bands: int = 6
    shingle_words: int = 3            # word-shingle width over normalized content
    # Hash tier for the minhash_lsh blocking family: True = xxhash64 (JVM,
    # production); False = portable sha-derived hash, bit-identical in
    # DuckDB, making the WHOLE pipeline (keys -> pairs -> clusters)
    # oracle-checkable end-to-end (pipeline_full_portable).
    minhash_fast: bool = True
    # Per-block pair-explosion guard: blocks larger than this are not
    # pair-expanded (logged, never silent — SURVEY.md §4.2). Exact-identity
    # families instead fall back to star edges above identity_star_threshold.
    max_block_size: int = 1000
    # Per-family overrides: name-family blocks are the classic hot keys
    # (main.py / index.js); blocks beyond this are SUB-SALTED (split into
    # sqrt-sized salt cells, action='subsalted' in block_stats) — reduced
    # intra-block recall, never a silent drop.
    # Tuple of (family, cap) pairs (kept hashable for frozen dataclass).
    family_block_caps: tuple[tuple[str, int], ...] = (
        ("name_prefix", 128),
        ("name_soundex", 128),
    )
    identity_star_threshold: int = 64
    # --- scoring / clustering ---
    cluster_threshold: float = 0.80   # min grade for a match edge (MDM MATCH analog)
    # --- skew / shuffle ---
    salt_buckets: int = 16            # salt fan-out for hot blocking keys
    cc_max_iterations: int = 25       # large-star/small-star bound (log n in practice)
    # --- fuzzy comparators (mdm-rules.json matchFields; SURVEY.md C14-C16) ---
    jaro_winkler_threshold: float = 0.92
    levenshtein_ratio_threshold: float = 0.85
    enable_fuzzy: bool = True
    # --- input validation (P3-P6; IdentityMatching.java:519-560) ---
    # Records whose completeness tier ranks below this are dropped before
    # blocking: "NONE" | "BASE" | "L0" | "L1". The synthetic corpus is
    # fully base-valid, so "BASE" mirrors the reference's always-on
    # base-profile validation without changing healthy-corpus results.
    validation_level: str = "BASE"
    # Header-override analog (X-Bypass-Validation): gate skipped entirely.
    validation_override: bool = False
    # --- checkpoint / lineage ---
    checkpoint_dir: str | None = None  # parquet snapshot store; None = localCheckpoint only

    @property
    def lsh_rows_per_band(self) -> int:
        return max(1, self.minhash_perms // self.lsh_bands)

    def with_(self, **kw) -> "MatchConfig":
        return replace(self, **kw)


# Grade tiers exactly as the reference decision table emits them
# (IdentityMatchingScorer.java:38-69).
GRADE_CERTAIN = 0.99
GRADE_PROBABLE = 0.80
GRADE_POSSIBLE = 0.70
GRADE_WEAK = 0.60
GRADE_NONE = 0.10
ALL_GRADES = (GRADE_CERTAIN, GRADE_PROBABLE, GRADE_POSSIBLE, GRADE_WEAK, GRADE_NONE)
