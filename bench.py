"""Benchmark harness.

Headline: the full linkage pipeline (normalize -> blocking -> score ->
grade -> CC clustering) on the deterministic synthetic corpus sized to the
scale factor, on local[$SPARK_GRAFT_CPUS]. Reports candidate-pairs-scored
per second (the BASELINE.json throughput metric) plus per-query wall times
for the headline operators over $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "e2e_pipeline_sec", "value": <sec>, "unit": "sec",
   "queries": {...}, "sf": <sf>, "pairs_scored": N, "pairs_per_sec": N,
   "cpus": N, "corpus_rows": N, "cal_units_per_sec": N, ...}

    SPARK_GRAFT_SF_DIR=<dir>/sf0.001 python bench.py

Performance claims come from perfbench/run.py (per-layer spans with
--trace 1); this script is the single-line throughput summary.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.corpus import generate_files
from identity_matching_spark.plans.pipeline import run_pipeline
from identity_matching_spark.session import build_session, default_cpus

# scoring-kernel pair list is replicated this many times so the timed window
# measures steady-state throughput, not job-setup latency
KERNEL_REP = 6
# one file per split for the kernel scan (see run_scoring_kernel)
KERNEL_OPEN_COST = 128 * 1024 * 1024

# entities per sf: sf0.1 -> 100k entities (~267k files) so steady-state
# compute dominates fixed per-job overhead in the throughput measurement.
ENTITIES_PER_SF = 1_000_000


def _burn(n):
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


def hw_calibration(procs: int, reps: int = 3) -> float:
    """Pure-CPU units/sec at `procs` processes, median of `reps` burns (a
    single ~1.5 s burn swings ±30% with scheduler placement)."""
    vals = []
    for _ in range(reps):
        t0 = time.time()
        with mp.Pool(procs) as p:
            p.map(_burn, [3_000_000] * procs * 6)
        vals.append(procs * 6 / (time.time() - t0))
    return sorted(vals)[reps // 2]


def sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def warmup(spark):
    """Pay one-time costs outside the timed window: JVM/codegen warm paths
    and the Python UDF worker pool (~20s cold at 32 threads)."""
    from pyspark.sql import functions as F, types as T

    _w = F.pandas_udf(lambda s: s * 1.0, T.DoubleType())

    spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism).select(
        F.sum(_w(F.col("id").cast("double")))
    ).collect()


def corpus_table(spark, n_entities: int) -> str:
    """Materialize the corpus as a parquet TABLE first (production shape:
    the pipeline reads a table, not a live generator expression). This
    also keeps the giant generator expression tree out of every
    downstream Catalyst/AQE re-plan — measured ~2s of single-threaded
    driver planning per stage otherwise.

    v2: written as 64 files. The generator's natural write produced TWO
    parquet files (one row group each — unsplittable), which silently
    capped the scan AND the records cache that inherits its partitioning
    at 2-way parallelism: every scan-side stage (normalize sha-derive,
    MinHash keying, the dense-id pass) then ran 2 tasks wide no matter
    how many cores the leg had — the measured cap on e2e scaling. A real
    corpus table is thousands of files; 64 ≈ 1 MB tasks keeps every
    bench width saturated with negligible per-task overhead."""
    corpus_path = f"/tmp/ims_bench_corpus_v2_{n_entities}.parquet"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        generate_files(spark, n_entities).drop("entity_id").repartition(64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    return corpus_path


def run_headline(spark, n_entities: int):
    files = spark.read.parquet(corpus_table(spark, n_entities))
    n_rows = files.count()
    warmup(spark)
    t0 = time.time()
    res = run_pipeline(files, MatchConfig())
    # match_messages is a lazy projection over the persisted slim scored
    # relation (plans/pipeline.py) — hash it into the headline action so
    # the timed window still COMPUTES every reference output column
    # (nothing is pruned out of the run), it just never pays to cache
    # derived string arrays.
    pairs_scored = res.scored_pairs.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64(F.concat_ws("\x1f", F.col("match_messages"))).cast("decimal(38,0)")
        ).alias("mh"),
    ).collect()[0]["n"]
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    wall = time.time() - t0
    res.cleanup()  # outside the timed window; drops run-pinned cache blocks
    return wall, pairs_scored, n_clusters, n_rows


def prepare_scoring_inputs(spark, n_entities: int):
    """Materialize records + candidate pairs as parquet ONCE (reused across
    bench runs at every parallelism level)."""
    from identity_matching_spark.operators.blocking import candidate_pairs
    from identity_matching_spark.operators.compare import ATTR_COLS
    from identity_matching_spark.operators.normalize import normalize_files

    # v4: all-long ATTR_COLS probe schema (postal5/lang/ssn4/initial and
    # phonetic twins) + DENSE record ids (didx) — versioned so a
    # pre-rework cached relation is never fed to the new kernel. stem's
    # string rides along ONLY for the distinct-stem-pair (JW) table
    # build; the kernel scan prunes it.
    rec_path = f"/tmp/ims_bench_records_v4_{n_entities}.parquet"
    # v4: pair list carries didx twins and is range-clustered by
    # left_didx, so consecutive kernel rows probe adjacent rows of the
    # dense broadcast array (near-sequential row-page walk — blocked pair
    # lists are naturally key-clustered in production; repartition() was
    # destroying that structure)
    pair_path = f"/tmp/ims_bench_pairs_v4_{n_entities}.parquet"
    if not (
        os.path.exists(os.path.join(rec_path, "_SUCCESS"))
        and os.path.exists(os.path.join(pair_path, "_SUCCESS"))
    ):
        corpus_path = corpus_table(spark, n_entities)
        from identity_matching_spark.operators.compare import (
            PHONETIC_H64_COLS,
            enrich_phonetic,
        )

        from identity_matching_spark.operators.normalize import with_dense_ids

        files = spark.read.parquet(corpus_path)
        records = with_dense_ids(enrich_phonetic(normalize_files(files)))
        records.select(*ATTR_COLS, "stem", "didx", *PHONETIC_H64_COLS).write.mode(
            "overwrite"
        ).parquet(rec_path)
        pairs = candidate_pairs(records, MatchConfig()).pairs
        # 64 files: the scoring kernel is one shuffle-free codegen stage
        # over this scan, so its task count IS the file count — 4x the
        # widest bench parallelism keeps all cores busy through stragglers.
        pairs.repartitionByRange(64, "left_didx", "right_didx").sortWithinPartitions(
            "left_didx", "right_didx"
        ).write.mode("overwrite").parquet(pair_path)
    return rec_path, pair_path


def run_scoring_kernel(spark, n_entities: int):
    """The BASELINE metric in its purest form: candidate-pairs-scored/sec.

    Fixed inputs from parquet; timed section = attach both sides + full
    comparator vector (incl. fuzzy pandas UDFs) + grade decision table +
    count. This is the kernel a 1000-executor cluster spends its time in.
    """
    from identity_matching_spark.operators.compare import compare_pairs_fuzzy
    from identity_matching_spark.operators.grade import grade_pairs
    from pyspark.sql import functions as F

    rec_path, pair_path = prepare_scoring_inputs(spark, n_entities)
    # The pair list is WRITTEN as 64 files so the shuffle-free kernel
    # stage runs 64 tasks (4x the widest leg — see prepare_scoring_inputs),
    # but Spark's size-based file packing coalesces them into ~11 x 128 MB
    # splits, leaving a 3-task straggler wave that idles 5 of 8 cores for
    # the last quarter of the stage (and packs even worse across 4 x 2-slot
    # executors in cluster mode — the event-log profile that exposed this).
    # A high open-cost makes each file its own split, restoring the
    # intended 64 tasks. Dynamic SQL conf, scoped to the kernel section
    # and restored after, so the e2e run is untouched.
    prev_open_cost = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", str(KERNEL_OPEN_COST))
    try:
        records = spark.read.parquet(rec_path)
        pairs_once = spark.read.parquet(pair_path)
        pairs = (
            pairs_once
            .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(KERNEL_REP - 1))))
            .drop("rep")
        )
        n_records = records.count()  # sizes the broadcast attaches, outside the window
        t0 = time.time()
        # jw_pairs = the unreplicated scan: the distinct-stem-pair table is a
        # DISTINCT over the pair SET, so the replicas add zero information —
        # identical table, 1/KERNEL_REP the scan (production pair lists aren't
        # replicated; the replication exists only to lengthen this window).
        flagged = compare_pairs_fuzzy(
            pairs, records, MatchConfig(), jw_pairs=pairs_once, n_records=n_records
        )
        scored = grade_pairs(flagged)
        # hash every COMPUTED output column into the aggregate so Catalyst
        # cannot prune any comparator (incl. the fuzzy columns) out of the
        # run; multi-arg xxhash64 hashes the columns directly without
        # materializing a struct row per pair first. The id columns are scan
        # passthrough (nothing to guard) — hashing their 64-char strings per
        # pair would only measure string-hash bandwidth; the didx twins are
        # scan passthrough too.
        computed = [c for c in scored.columns
                    if c not in ("left_id", "right_id", "left_didx", "right_didx")]
        n = scored.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c) for c in computed]).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]["n"]
        wall = time.time() - t0
        if flagged.jw_stem_cache is not None:
            flagged.jw_stem_cache.unpersist()
    finally:
        if prev_open_cost is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", prev_open_cost)
    return wall, n


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    # Shuffle on tmpfs when available: /tmp here is a shared virtual disk
    # whose throughput swings with co-tenant load (a real cluster shuffles
    # to node-local NVMe). Spark's shutdown hook removes the dirs on stop.
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/ims_bench_local")
    sf = sf_of(sf_dir)
    n_entities = max(200, int(ENTITIES_PER_SF * sf))

    # Host-capacity stamp: the host is shared, so absolute wall times from
    # different runs are only comparable alongside what the host delivered.
    # One pure-CPU calibration burn at this run's width, emitted in the
    # JSON line, makes every result self-interpreting.
    cal = hw_calibration(cpus)

    spark = build_session("bench", cpus=cpus)

    out = {
        "metric": "e2e_pipeline_sec",
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "cal_units_per_sec": round(cal, 1),
    }

    wall, pairs_scored, n_clusters, n_rows = run_headline(spark, n_entities)
    out.update(
        value=round(wall, 3),
        corpus_rows=n_rows,
        pairs_scored=pairs_scored,
        pairs_per_sec=round(pairs_scored / wall, 1) if wall > 0 else None,
        n_clusters=n_clusters,
    )
    kwall, kpairs = run_scoring_kernel(spark, n_entities)
    out.update(
        kernel_sec=round(kwall, 3),
        kernel_pairs=kpairs,
        kernel_pairs_per_sec=round(kpairs / kwall, 1) if kwall > 0 else None,
    )

    # headline operator queries over the driver-provided tables.
    # Drop pipeline/kernel persisted blocks first: query wall times must
    # measure the query, not eviction churn against leftover cache.
    spark.catalog.clearCache()

    import __spark_entry__ as entry

    qs = entry.queries()
    qtimes = {}
    for name in ("scored_pairs", "clusters", "dedup_exact", "minhash_lsh_portable",
                 "ann_topk", "agg_orders", "region_revenue"):
        t = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        qtimes[name] = round(time.time() - t, 3)
    out["queries"] = qtimes

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
