"""spark-submit entry point (north_rule: runs via ``spark-submit
--py-files identity_matching_spark.zip tools/run_linkage.py ...``).

Reads the corpus (parquet path or ``synthetic:<n_entities>``), runs the
pipeline (durably, with stage snapshots and lineage, under
--checkpoint-dir), writes clusters/scored_pairs under --output, and
prints a one-line JSON summary. Uses the ambient
SparkSession when launched by spark-submit; builds a local one otherwise.

Output-assembly parity notes (SURVEY.md §2.8):

* S7/F8 — a run with zero match edges writes a one-row ``outcome``
  frame with a fresh uuid identity (the no-match OperationOutcome
  entry, IdentityMatching.java:486-495).
* O3 — the reference prepends the requesting Organization resource at
  bundle index 0 (IdentityMatching.java:205-214). Implemented in
  ``operators/bundle.py`` (``assemble_match_bundle``; oracle-checked as
  the ``match_bundle`` query): the engine emits the ordered searchset
  entry table (Organization include at index 0, scored entries after,
  Patient-only total) from which callers serialize the FHIR envelope.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _get_spark(cpus: int | None):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from identity_matching_spark.session import build_session

    return build_session("identity_matching_cli", cpus=cpus)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="identity_matching_spark")
    ap.add_argument("--input", required=True,
                    help="parquet path with files(repo,path,commit,lang,content), "
                         "or synthetic:<n_entities>")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="stage checkpoint dir (enables resume)")
    ap.add_argument("--cluster-threshold", type=float, default=0.80)
    ap.add_argument("--max-block-size", type=int, default=1000)
    ap.add_argument("--no-fuzzy", action="store_true")
    # P1 param projection, reference-faithful: $match parses
    # onlyCertainMatches/count (IdentityMatching.java:98-108,163-173) but
    # never applies them (no use after :248 — SURVEY.md §2.11). Default
    # mirrors that quirk: parsed, reported as ignored. --enforce-params is
    # the deliberate fix branch: certain-only filter + top-count cap,
    # applied to the RESPONSE set (scored_pairs) only — clustering still
    # sees every edge, as the reference's MDM state would.
    ap.add_argument("--count", type=int, default=None,
                    help="$match 'count' param (ignored unless --enforce-params)")
    ap.add_argument("--only-certain", action="store_true",
                    help="$match 'onlyCertainMatches' (ignored unless --enforce-params)")
    ap.add_argument("--enforce-params", action="store_true",
                    help="actually apply --count/--only-certain instead of "
                         "mirroring the reference's parse-but-ignore quirk")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from identity_matching_spark.config import MatchConfig
    from identity_matching_spark.plans.pipeline import run_pipeline

    spark = _get_spark(args.cpus)
    config = MatchConfig(
        cluster_threshold=args.cluster_threshold,
        max_block_size=args.max_block_size,
        enable_fuzzy=not args.no_fuzzy,
    )

    if args.input.startswith("synthetic:"):
        from identity_matching_spark.corpus import generate_files

        files = generate_files(spark, int(args.input.split(":", 1)[1])).drop("entity_id")
    else:
        files = spark.read.parquet(args.input)

    t0 = time.time()
    res = run_pipeline(files, config, checkpoint_dir=args.checkpoint_dir)
    scored, clusters = res.scored_pairs, res.clusters
    if not args.checkpoint_dir:  # a checkpoint dir already holds block_stats
        res.block_stats.write.mode("overwrite").parquet(f"{args.output}/block_stats")

    params_ignored = {}
    if args.enforce_params:
        if args.only_certain:
            scored = scored.filter(F.col("score") >= F.lit(0.99))
        if args.count is not None:
            scored = scored.orderBy(
                F.desc("score"), F.desc("weight"), F.asc("left_id"), F.asc("right_id")
            ).limit(args.count)
    else:
        # reference parity: parameters parsed but never enforced
        if args.only_certain:
            params_ignored["onlyCertainMatches"] = True
        if args.count is not None:
            params_ignored["count"] = args.count

    scored.write.mode("overwrite").parquet(f"{args.output}/scored_pairs")
    clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    res.cleanup()

    # one read-back job counts the written pairs and their match edges
    n_pairs, n_edges = spark.read.parquet(f"{args.output}/scored_pairs").agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("score") >= F.lit(args.cluster_threshold), 1)),
    ).first()
    n_clusters = (
        spark.read.parquet(f"{args.output}/clusters").select("cluster_id").distinct().count()
    )
    # S7/F8: when the run yields zero match edges, emit the no-match
    # OperationOutcome analog — one row with a fresh uuid identity
    # (IdentityMatching.java:486-495: OperationOutcome entry with uuid
    # fullUrl, severity WARNING and IssueType NOTFOUND).
    no_match = n_edges == 0
    if no_match:
        outcome = spark.range(1).select(
            F.expr("uuid()").alias("outcome_id"),
            F.lit("warning").alias("severity"),
            F.lit("not-found").alias("code"),
            F.lit("No matches found.").alias("diagnostics"),
        )
        outcome.write.mode("overwrite").parquet(f"{args.output}/outcome")
    wall = time.time() - t0
    out_json = {
        "pairs_scored": n_pairs,
        "n_match_edges": n_edges,
        "n_clusters": n_clusters,
        "no_match_outcome": no_match,
        "wall_sec": round(wall, 2),
        "pairs_per_sec": round(n_pairs / wall, 1) if wall else None,
    }
    if params_ignored:
        out_json["params_ignored"] = params_ignored
    print(json.dumps(out_json))
    return 0


if __name__ == "__main__":
    sys.exit(main())
