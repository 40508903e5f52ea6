"""One benchmark run: set up, link once, check the outputs, report.

``run.py`` starts this as a fresh process with the host-fit environment
already set (driver memory, cores, PYTHONPATH, on-disk shuffle and temp
dirs) and the process's output captured as the driver log. The result
goes to ``--result`` as JSON.

    setup   session start + seeded input generation and parquet write
    link    the timed window: from the call into the linkage entry point
            until scored pairs (with match_messages) and clusters are
            written. No warm-up pass: JIT, codegen and Python-worker start
            are paid inside it, as a CLI or spark-submit job pays them.
    checks  outputs against independent references (checks.py)
    setup   repeated after the link, so the link sees exactly one set-up's
            warm-up; setup_s is the median of SETUP_REPEATS set-ups
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import replace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import workloads  # noqa: E402
from eventlog import EVENTLOG_CONF, fold  # noqa: E402

SETUP_REPEATS = 3
THRESHOLD = 0.80  # MatchConfig().cluster_threshold and the CLI default
CAL_LOOPS = 1_000_000


def host_cal_ms() -> float:
    """Median time of a fixed single-thread loop: a stamp of how fast the
    (shared) host ran around the link, for reading run-to-run noise."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(CAL_LOOPS):
            acc += i
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under path; markers and checksums excluded."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _job_group(spark, name: str | None) -> None:
    sc = spark.sparkContext
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(name, name)


class Run:
    def __init__(self, args):
        self.wl = workloads.WORKLOADS[args.workload]
        self.reference = bool(args.reference)
        if self.reference:  # the stored fingerprint's source: default in-memory path
            self.wl = replace(self.wl, path="pipeline", config={})
        self.seed = args.seed
        self.cpus = args.cpus
        self.trace = bool(args.trace)
        self.driver_log = args.driver_log
        w = args.work
        self.dirs = {k: os.path.join(w, k) for k in ("input", "out", "ckpt", "records", "events", "tmp")}
        for k in ("out", "ckpt", "records", "events"):
            shutil.rmtree(self.dirs[k], ignore_errors=True)
        os.makedirs(self.dirs["events"])
        os.makedirs(self.dirs["tmp"], exist_ok=True)

    def session(self):
        from identity_matching_spark.session import build_session

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(EVENTLOG_CONF)
            conf["spark.eventLog.dir"] = self.dirs["events"]
        return build_session("perfbench", cpus=self.cpus, extra_conf=conf)

    def setup(self):
        """Start the session and write the seeded input table."""
        from identity_matching_spark import corpus

        t0 = time.perf_counter()
        spark = self.session()
        _job_group(spark, "setup")
        corpus.SEED = self.seed  # generate_files reads it at call time
        shutil.rmtree(self.dirs["input"], ignore_errors=True)
        (corpus.generate_files(spark, self.wl.entities).drop("entity_id")
         .write.parquet(self.dirs["input"]))
        _job_group(spark, None)
        return spark, time.perf_counter() - t0

    def link(self, spark, tracer):
        """The timed window. Returns run_pipeline's result (None for the CLI)."""
        d = self.dirs
        if self.wl.path == "cli":
            from identity_matching_spark import cli

            if cli.main(["--input", d["input"], "--output", d["out"],
                         "--checkpoint-dir", d["ckpt"]]) != 0:
                raise RuntimeError("cli.main returned non-zero")
            return None
        from identity_matching_spark.config import MatchConfig
        from identity_matching_spark.plans.pipeline import run_pipeline

        res = run_pipeline(spark.read.parquet(d["input"]), MatchConfig(**self.wl.config))
        clusters = res.clusters
        if tracer is not None:  # run_pipeline's cluster id-map join is lazy
            with tracer.span("join_back"):
                clusters = tracer.materialize(clusters, "join_back")
        res.scored_pairs.write.parquet(os.path.join(d["out"], "scored_pairs"))
        clusters.write.parquet(os.path.join(d["out"], "clusters"))
        return res


def post_counts(tracer) -> dict:
    """Counts over the traced run's cached layer outputs; needs the live session."""
    from pyspark.sql import functions as F

    from identity_matching_spark.functions.normalize import hapi_norm

    refs = tracer.refs
    udf_rows = 0
    if "phonetic" in refs:  # distinct values through the cologne and metaphone UDFs
        for col in ("dir1", "stem"):
            udf_rows += (refs["phonetic"].select(hapi_norm(F.col(col)).alias("v"))
                         .where(F.col("v").isNotNull()).distinct().count())
    guard = {r["action"]: r["n"] for r in refs["blocking.block_stats"]
             .groupBy("action").agg(F.sum("n_records").alias("n")).collect()}
    return {
        "phonetic.udf_rows": udf_rows,
        "blocking.keys": refs["blocking.keyed"].select("family", "blocking_key")
        .distinct().count(),
        "blocking.guard_rows_star": guard.get("star", 0),
        "blocking.guard_rows_subsalted": guard.get("subsalted", 0),
    }


def layer_metrics(run: Run, tracer, post: dict, link_s: float, fp: dict) -> dict:
    """The per-layer table of one traced run (names as in BENCHMARK.json).
    Call after spark.stop(), which completes the event log."""
    ev = fold(run.dirs["events"])
    link_groups = {k: v for k, v in ev.items() if k not in ("setup", "post")}

    def ev_of(layer, key):
        return link_groups.get(layer, {}).get(key, 0.0)

    def self_wall(layer):
        own = tracer.wall(layer)
        kids = sum(s["wall_s"] for s in tracer.spans if s["parent"] == layer)
        return own - kids

    def fallbacks(layer):
        return sum(s["codegen_fallbacks"] for s in tracer.spans if s["name"] == layer)

    counts = tracer.counts
    pairs = fp["pairs"]
    score_task = ev_of("score", "task_s")
    ckpt_bytes, ckpt_files = _du(run.dirs["ckpt"])
    out_bytes, out_files = _du(run.dirs["out"])
    in_bytes, _ = _du(run.dirs["input"])
    task_all = sum(v["task_s"] for v in link_groups.values())
    layers = ("normalize", "dense_ids", "phonetic", "blocking", "jw_table", "score",
              "cc", "join_back", "snapshots", "output")
    m = {}
    for layer in layers:
        m[f"{layer}.wall_s"] = self_wall(layer)
        m[f"{layer}.task_s"] = ev_of(layer, "task_s")
    m.update({
        "normalize.rows_out": counts.get("normalize.rows", 0),
        "normalize.codegen_fallbacks": fallbacks("normalize"),
        "dense_ids.jobs": ev_of("dense_ids", "jobs"),
        "blocking.shuffle_write_mb": ev_of("blocking", "shuffle_write_mb"),
        "blocking.pairs_out": counts.get("blocking.pairs.rows", 0),
        "blocking.edge_yield": fp["edges"] / pairs if pairs else 0.0,
        "jw_table.rows": counts.get("jw_table.rows", 0),
        "jw_table.rows_per_pair": counts.get("jw_table.rows", 0) / pairs if pairs else 0.0,
        "score.pairs_per_task_s": pairs / score_task if score_task else 0.0,
        "cc.jobs": ev_of("cc", "jobs"),
        "cc.edges_in": fp["edges"],
        "cc.iterations": counts["cc.iterations"],
        "cc.driver_finish": counts["cc.driver_finish"],
        "snapshots.bytes_written_mb": ckpt_bytes / 2**20,
        "snapshots.files_written": ckpt_files,
        "snapshots.write_amp": (ckpt_bytes + out_bytes) / in_bytes,
        "output.bytes_written_mb": out_bytes / 2**20,
        "output.files_written": out_files,
        "pipeline.driver_other_s": link_s - tracer.top_level_wall(),
        "pipeline.task_s": ev_of("pipeline", "task_s"),
        "spark.jobs": sum(v["jobs"] for v in link_groups.values()),
        "spark.stages": sum(v["stages"] for v in link_groups.values()),
        "spark.tasks": sum(v["tasks"] for v in link_groups.values()),
        "spark.task_s": task_all,
        "spark.core_util": task_all / (link_s * run.cpus),
        "spark.gc_s": sum(v["gc_s"] for v in link_groups.values()),
        "spark.spill_mb": sum(v["spill_mb"] for v in link_groups.values()),
        "trace.link_s": link_s,
    })
    m.update(post)
    m["snapshots.write_s"] = m.pop("snapshots.wall_s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--driver-log", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--reference", action="store_true",
                    help="run_pipeline with the default MatchConfig; compare to nothing")
    args = ap.parse_args(argv)
    run = Run(args)

    spark, first_setup = run.setup()
    tracer = None
    if run.trace:
        from layers import Tracer

        tracer = Tracer(spark, run.driver_log)
        tracer.install()
    cal = [host_cal_ms()]
    window = [time.time()]
    t0 = time.perf_counter()
    try:
        res = run.link(spark, tracer)
    finally:
        if tracer is not None:
            tracer.uninstall()
    link_s = time.perf_counter() - t0
    window.append(time.time())
    cal.append(host_cal_ms())

    _job_group(spark, "post")  # no job from here on belongs to the link
    records_dir = os.path.join(run.dirs["ckpt"], "records")
    if res is not None:  # outside the window: the cached records relation
        records_dir = run.dirs["records"]
        res.records.select("record_id", "content_sha256").write.mode("overwrite").parquet(records_dir)
    outcome = checks.run_all(
        input_dir=run.dirs["input"], records_dir=records_dir, out_dir=run.dirs["out"],
        threshold=THRESHOLD,
        expected=None if run.reference else workloads.expected_fingerprint(run.wl, run.seed),
    )
    result = {
        "link_s": link_s, "link_window": window, "host_cal_ms": statistics.mean(cal),
        "fingerprint": outcome.fingerprint,
        "failures": outcome.failures,
    }
    post = post_counts(tracer) if tracer is not None else None
    if res is not None:
        res.cleanup()
    spark.stop()
    if tracer is not None:
        result["layers"] = layer_metrics(run, tracer, post, link_s, outcome.fingerprint)

    setups = [first_setup]
    for _ in range(SETUP_REPEATS - 1):
        spark, s = run.setup()
        spark.stop()
        setups.append(s)
    result["setup_s"] = statistics.median(setups)
    result["setup_runs_s"] = setups
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
