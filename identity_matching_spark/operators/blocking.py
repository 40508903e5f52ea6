"""Blocking: records -> candidate pairs.

Reference semantics re-expressed at corpus scale (SURVEY.md J1/J4/A4/O5):
the server builds ONE conjunctive indexed search per query patient
(IdentityMatching.java:911-1053) and the MDM subsystem unions independent
per-key candidate fetches (mdm-rules.json:4-17). For batch all-pairs
linkage the equivalent is: explode each record into
``(blocking_key, record_id)`` rows across several key families, self-
equi-join on the key, and de-duplicate pairs found under multiple keys
(the reference dedups candidates by fullUrl, IdentityMatching.java:625-627).

Scale design (the part Catalyst cannot invent, SURVEY.md §4):

* **Per-block pair guard.** A block of n records yields n(n-1)/2 pairs;
  a hot key (empty files, ``__init__.py`` stems, dominant lang) is
  quadratic death at 10^12 rows. Blocks larger than
  ``config.max_block_size`` are excluded from pair expansion and
  REPORTED (returned in a metrics DataFrame — never a silent cap).
* **Identity-star shortcut.** For *identity* families (content_sha,
  file_id) every member of a block is pairwise-linked by a strong key
  whose single flag already grades 0.99 (decision table line 41:
  mrn || digitalId). Blocks above ``identity_star_threshold`` therefore
  emit O(n) star pairs (min record_id as hub) instead of O(n^2) —
  the transitive closure recovers the same cluster.
* **Skew.** The join itself is an equi-join on blocking_key; with the
  guard in place no single key exceeds max_block_size, bounding any
  post-shuffle partition. AQE skew-join splitting stays enabled as a
  backstop, and the key space is pre-spread with
  ``repartition(blocking_key)`` so the pair join and the dedup reuse
  one shuffle.
* **Guard keys on the driver.** The guarded (oversized, starred or hot)
  key set is collected once; up to ``config.DRIVER_FINISH_ROWS`` keys it
  comes back as a broadcast local relation, ``block_stats`` is built from
  it, and only the sub-salt, hot-salt and star branches that have keys
  are planned (none when no block is guarded). The collect is also the
  materialization barrier of the persisted key table. A larger guard set
  keeps the distributed relation and every branch.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.functions.hashing import (
    lsh_band_keys,
    minhash_signature,
    word_shingles,
)
from identity_matching_spark.functions.normalize import hapi_norm
from identity_matching_spark.operators.driver_finish import (
    collect_small,
    join_side,
    local_relation,
)

# Families whose key alone implies a 0.99-grade match (strong identifiers).
IDENTITY_FAMILIES = {"content_sha", "file_id"}


def blocking_keys(records: DataFrame, config: MatchConfig) -> DataFrame:
    """Explode records into (family, blocking_key, record_id) rows.

    Key derivations follow HAPI search-param semantics: string params are
    accent/case-folded prefixes (F4), token params exact (SURVEY.md §2.2).
    """
    fams = []
    f = config.blocking_families
    # Identity keys use the 8-byte h64 twins (operators/normalize.py) — the
    # keyed table is the biggest intermediate at corpus scale and shrinks ~4x.
    if "content_sha" in f:
        fams.append(F.struct(F.lit("content_sha").alias("family"),
                             F.concat(F.lit("sha:"), F.col("content_h64").cast("string")).alias("blocking_key")))
    if "file_id" in f:
        fams.append(F.struct(F.lit("file_id").alias("family"),
                             F.concat(F.lit("fid:"), F.col("file_h64").cast("string")).alias("blocking_key")))
    if "norm_sha" in f:
        fams.append(F.struct(F.lit("norm_sha").alias("family"),
                             F.concat(F.lit("nsha:"), F.col("norm_h64").cast("string")).alias("blocking_key")))
    # Name keys are CONJUNCTIVE with the birth-date analog (size bucket) —
    # the reference ANDs its search params (one SearchParameterMap,
    # IdentityMatching.java:911-1053), and every decision-table tier that a
    # name-blocked pair can win requires birth_date_match anyway, so the
    # composite key splits hot-name blocks without losing decision-relevant
    # recall.
    if "name_prefix" in f:
        fams.append(F.struct(
            F.lit("name_prefix").alias("family"),
            F.concat(F.lit("np:"), F.col("lang_norm"), F.lit("|"),
                     F.substring(hapi_norm(F.col("stem")), 1, config.name_prefix_len),
                     F.lit("|"), F.col("size_bucket").cast("string")
                     ).alias("blocking_key")))
    if "name_soundex" in f:
        fams.append(F.struct(
            F.lit("name_soundex").alias("family"),
            F.concat(F.lit("sdx:"), F.col("lang_norm"), F.lit("|"),
                     F.soundex(hapi_norm(F.col("stem"))),
                     F.lit("|"), F.col("size_bucket").cast("string")
                     ).alias("blocking_key")))

    # Dense ids ride WITH the keyed rows when the records relation carries
    # them (8 B/keyed row) so the pair join emits didx sides directly —
    # re-attaching didx to 10^12-scale pair lists afterwards would cost
    # two string-keyed shuffle joins.
    extra = ["didx"] if "didx" in records.columns else []
    keyed = records.select(
        "record_id", *extra, F.explode(F.array(*fams)).alias("k")
    ).select("record_id", *extra, "k.family", "k.blocking_key")

    if "minhash_lsh" in f:
        # Staged projections so the signature materializes once per row —
        # CollapseProject will not re-inline a non-cheap expression that the
        # next projection references multiple times (band slicing).
        sig_df = records.select(
            "record_id",
            *extra,
            minhash_signature(
                word_shingles(F.col("norm_content"), config.shingle_words),
                config.minhash_perms,
                fast=config.minhash_fast,
            ).alias("sig"),
        )
        mh = sig_df.select(
            "record_id",
            *extra,
            F.lit("minhash_lsh").alias("family"),
            F.explode(
                lsh_band_keys(
                    F.col("sig"), config.lsh_bands, config.lsh_rows_per_band,
                    fast=config.minhash_fast,
                )
            ).alias("blocking_key"),
        )
        keyed = keyed.unionByName(mh)
    return keyed


@dataclass
class BlockingResult:
    pairs: DataFrame        # (left_id, right_id, left_didx, right_didx), left<right, deduped
    block_stats: DataFrame  # (family, blocking_key, n_records, action) for oversized blocks
    # caches the pair plan reads, for the caller to unpersist once the pairs
    # are materialized: the derived key table and, above the driver-finish
    # limit, the guard key set (None below it)
    keyed_cache: DataFrame | None = None
    guard_cache: DataFrame | None = None


def candidate_pairs(
    records: DataFrame, config: MatchConfig, n_records: int | None = None
) -> BlockingResult:
    """Union-of-families self-equi-join with guards; returns deduped pairs
    ``(left_id, right_id, left_didx, right_didx)``.

    ``records`` must carry the dense ids of ``normalize.with_dense_ids``:
    the whole pair join runs on them. ``n_records`` (when the caller
    already knows it) gates whether the final string-id re-attach
    broadcasts the slim id map or shuffle-hash joins it.
    """
    from pyspark import StorageLevel

    if "didx" not in records.columns:
        raise ValueError(
            "candidate_pairs needs dense record ids: pass the records through "
            "operators.normalize.with_dense_ids first (a checkpoint dir written "
            "before dense ids must be cleared, not resumed)"
        )

    # keyed feeds the size count and both join sides — persist so key
    # derivation (incl. MinHash) runs once. At cluster scale this is the
    # derived blocking-key table an Iceberg deployment would write out.
    keyed = blocking_keys(records, config).persist(StorageLevel.MEMORY_AND_DISK)

    # One shuffle on blocking_key serves the size count AND the self-join.
    sizes = keyed.groupBy("family", "blocking_key").agg(F.count("*").alias("n_records"))

    star_eligible = F.col("family").isin(*IDENTITY_FAMILIES)
    cap = F.lit(config.max_block_size)
    for fam, fam_cap in config.family_block_caps:
        cap = F.when(F.col("family") == fam, F.lit(min(fam_cap, config.max_block_size))).otherwise(cap)
    oversized = F.col("n_records") > cap
    starred = star_eligible & (F.col("n_records") > F.lit(config.identity_star_threshold))
    hot = (~star_eligible) & (~oversized) & (F.col("n_records") > F.lit(config.salt_buckets * 8))

    # Sub-salt factor for oversized non-identity blocks: split a block of n
    # rows into k = ceil(n/cap) hash-sub-blocks of ~cap rows each. Pair
    # output becomes ~n*cap/2 instead of n^2/2 — LINEAR in block size, so a
    # hot key can never blow up a stage. The reduced intra-block recall is
    # deterministic and REPORTED (action='subsalted'), never silent.
    subsalt_k = F.ceil(F.col("n_records") / cap).cast("long")
    guard = sizes.filter(oversized | starred | hot).select(
        "family",
        "blocking_key",
        "n_records",
        starred.alias("is_star"),
        hot.alias("is_hot"),
        F.when(oversized & ~starred, subsalt_k).alias("sub_k"),
        # oversized/starred blocks are reported; hot-only ones are not
        F.when(starred, F.lit("star")).when(oversized, F.lit("subsalted")).alias("action"),
    )
    # The guard key set is small (it is broadcast either way). Collecting it
    # once is also the materialization barrier: the size aggregation scans
    # all of keyed, filling its cache before the pair query below
    # references keyed from up to ~8 leaf stages that AQE submits
    # concurrently — against a cold cache each would recompute the
    # explode+MinHash key derivation. Knowing the rows, only the guard
    # branches that have any are planned. Above the limit the joins below
    # read the cached guard set, handed back with keyed.
    rows, guard_cache = collect_small(guard)
    if rows is not None:
        guard = local_relation(
            records.sparkSession,
            {c: [r[c] for r in rows] for c in guard.columns},
            guard.schema,
        )
        has_star = any(r["is_star"] for r in rows)
        has_hot = any(r["is_hot"] for r in rows)
        has_sub = any(r["sub_k"] is not None for r in rows)
    else:
        has_star = has_hot = has_sub = True
    block_stats = guard.filter(F.col("action").isNotNull()).select(
        "family", "blocking_key", "n_records", "action"
    )

    # The ENTIRE pair join runs in 8-byte longs: didx is the rank of
    # record_id, so didx ordering IS record_id ordering (canonical
    # left<right) and the string ids are re-attached ONCE after the dedup
    # from the slim id map. The quadratic self-join and the dedup exchange
    # — the two biggest shuffles in the system at 10^12 files — move 8 B
    # per side instead of a 64-char id. Salting/sub-salting keys are
    # derived from record_id, so the pair set does not depend on how the
    # ids were interned.
    keyed_sized = keyed.join(
        F.broadcast(guard.select("family", "blocking_key", "is_star", "is_hot", "sub_k")),
        ["family", "blocking_key"],
        "left",
    )
    quad = keyed_sized.filter(
        F.col("is_star").isNull() & F.col("sub_k").isNull()
    ).select("blocking_key", "didx")
    if has_sub:
        # sub-blocks are ~cap-sized quadratic blocks — reuse the plain pair join
        quad = quad.unionByName(
            keyed_sized.filter(F.col("sub_k").isNotNull()).select(
                F.concat(
                    F.col("blocking_key"),
                    F.lit("#"),
                    F.pmod(F.xxhash64("record_id"), F.col("sub_k")).cast("string"),
                ).alias("blocking_key"),
                "didx",
            )
        )

    l, r = quad.alias("l"), quad.alias("r")
    branches = [
        l.join(r, "blocking_key")
        .filter(F.col("l.didx") < F.col("r.didx"))
        .select(F.col("l.didx").alias("left_didx"), F.col("r.didx").alias("right_didx"))
    ]

    if has_hot:
        # Hot-key salting (SURVEY.md §4.1): keys below the cap but big
        # enough to make one post-shuffle task a straggler get the classic
        # replicate-probe treatment — left side hashed into S salt buckets,
        # right side replicated to every bucket, join key widened to
        # (blocking_key, salt). A hot key's n^2/2 pair generation then
        # spreads over S tasks instead of one. (AQE skew-join stays on as
        # backstop for everything else.) Hot rows keep record_id alongside:
        # the salt assignment hashes it.
        S = config.salt_buckets
        hot_rows = keyed_sized.filter(F.col("is_hot") == True).select(  # noqa: E712
            "blocking_key", "record_id", "didx"
        )
        salted_l = hot_rows.select(
            "blocking_key",
            F.col("didx").alias("_l"),
            F.pmod(F.xxhash64("record_id"), F.lit(S)).cast("int").alias("salt"),
        )
        salted_r = hot_rows.select(
            "blocking_key",
            F.col("didx").alias("_r"),
            F.explode(F.sequence(F.lit(0).cast("int"), F.lit(S - 1).cast("int"))).alias("salt"),
        )
        branches.append(
            salted_l.join(salted_r, ["blocking_key", "salt"])
            .filter(F.col("_l") < F.col("_r"))
            .select(F.col("_l").alias("left_didx"), F.col("_r").alias("right_didx"))
        )

    if has_star:
        # Star expansion: hub = min(didx) per oversized identity block,
        # which is the min record_id (didx is its rank).
        star = keyed_sized.filter(F.col("is_star") == True).select(  # noqa: E712
            "blocking_key", "didx"
        )
        hubs = star.groupBy("blocking_key").agg(F.min("didx").alias("hub"))
        branches.append(
            star.join(hubs, "blocking_key")
            .filter(F.col("didx") != F.col("hub"))
            .select(F.col("hub").alias("left_didx"), F.col("didx").alias("right_didx"))
        )

    deduped = functools.reduce(lambda a, b: a.unionByName(b), branches).dropDuplicates(
        ["left_didx", "right_didx"]
    )
    # ONE string-id re-attach after the dedup, from the slim (didx,
    # record_id) map — broadcast (a single ReusedExchange probed from both
    # sides) when the map fits ``join_side``'s limit, slim shuffle-hash
    # joins otherwise, and for an unknown ``n_records`` (never a hidden
    # count job). The didx twins ride on with the pair list: every scoring
    # attach and the CC edge set key on them.
    rel = join_side(records.select(F.col("didx").alias("_didx"), "record_id"), n_records)
    lhs, rhs = rel.alias("_il"), rel.alias("_ir")
    pairs = (
        deduped
        .join(lhs, F.col("left_didx") == F.col("_il._didx"), "inner")
        .join(rhs, F.col("right_didx") == F.col("_ir._didx"), "inner")
        .select(
            F.col("_il.record_id").alias("left_id"),
            F.col("_ir.record_id").alias("right_id"),
            "left_didx",
            "right_didx",
        )
    )
    return BlockingResult(
        pairs=pairs, block_stats=block_stats, keyed_cache=keyed, guard_cache=guard_cache
    )
