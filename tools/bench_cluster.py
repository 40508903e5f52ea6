"""Executor-scaling legs: the north rule measured on a REAL cluster.

BASELINE.json's north rule is "run via spark-submit --py-files on a
multi-executor cluster at two cluster sizes (N and 4N executors) with
throughput scaling efficiency >= 0.8". The committed evidence
(BENCH/bench_scaling.json) measures the same ratio as a single-JVM
local[2] -> local[8] thread sweep — faithful to compute scaling but it
short-circuits executor-to-executor shuffle and runs one shared python
worker pool. This harness closes that gap: each leg launches a REAL
standalone cluster on this host (tools/cluster_harness.py — master JVM,
one 2-core worker JVM per executor, workers taskset-pinned to disjoint
core slices) and runs the UNMODIFIED scoring-kernel bench through
literal ``spark-submit --py-files identity_matching_spark.zip bench.py``
against it:

    N  = 1 worker  -> 1 executor  x 2 cores   (cores 0-1)
    4N = 4 workers -> 4 executors x 2 cores   (cores 0-7)

Same measurement discipline as the banked thread-scaling window
(tools/bench_scaling.py): pure-CPU calibration brackets before/after,
hi leg first, per-leg 0.93-bar fail-fast inside bench.py, end-bracket
drift gate; the scoring inputs are pre-materialized once so neither leg
pays generation. Writes BENCH/bench_cluster.json; never touches the
banked bench_scaling.json (different method, reported side by side in
BENCH/BASELINE.md).

    python tools/bench_cluster.py [sf_dir] [--skip-prep]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench_scaling import hw_calibration_med, mem_calibration  # noqa: E402
from cluster_harness import SPARK_SUBMIT, StandaloneCluster  # noqa: E402
from identity_matching_spark.session import driver_memory  # noqa: E402

LO_WORKERS, HI_WORKERS, CORES_PER_WORKER = 1, 4, 2
LO = LO_WORKERS * CORES_PER_WORKER
HI = HI_WORKERS * CORES_PER_WORKER


def prepare_inputs(sf_dir: str) -> None:
    """Materialize corpus/records/pairs parquet once at full local width so
    the timed cluster legs read fixed inputs (same rule as the thread
    legs: generation is not part of the measured kernel)."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from bench import prepare_scoring_inputs, sf_of, ENTITIES_PER_SF\n"
        "from identity_matching_spark.session import build_session\n"
        "spark = build_session('bench-prep', cpus=32)\n"
        "n = max(200, int(ENTITIES_PER_SF * sf_of(%r)))\n"
        "print(prepare_scoring_inputs(spark, n))\n"
        "spark.stop()\n" % (REPO, sf_dir)
    )
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)  # prep runs plain local[32]
    subprocess.run([sys.executable, "-c", code], check=True, env=env, cwd=REPO,
                   timeout=3600)


def make_zip() -> str:
    out = "/tmp/identity_matching_spark_bench.zip"
    subprocess.run(["bash", os.path.join(REPO, "tools", "make_pyfiles.sh"), out],
                   check=True, capture_output=True)
    return out


def run_leg(n_workers: int, sf_dir: str, zip_path: str, min_cal: float) -> dict:
    """One kernel leg on a fresh n_workers x 2-core standalone cluster via
    spark-submit --py-files. Returns bench.py's JSON dict."""
    cores = n_workers * CORES_PER_WORKER
    with StandaloneCluster(n_workers, CORES_PER_WORKER) as cluster:
        env = dict(
            os.environ,
            SPARK_GRAFT_MASTER=cluster.master_url,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_SF_DIR=sf_dir,
            SPARK_GRAFT_SECTIONS="kernel",
            SPARK_GRAFT_MIN_CAL=str(min_cal),
            PYSPARK_PYTHON=sys.executable,
        )
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            env.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/ims_bench_local")
        t0 = time.time()
        out = subprocess.run(
            [SPARK_SUBMIT, "--master", cluster.master_url,
             "--deploy-mode", "client", "--driver-memory", driver_memory(),
             "--py-files", zip_path,
             os.path.join(REPO, "bench.py")],
            env=env, capture_output=True, text=True, timeout=4000, cwd=REPO,
        )
    if out.returncode == 17:
        raise SystemExit(
            f"cluster leg at {n_workers} workers fail-fasted: host sagged "
            f"below {min_cal:.1f} units/s"
        )
    json_lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if out.returncode != 0 or not json_lines:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-5000:] + "\n")
        raise RuntimeError(f"bench.py produced no JSON at {n_workers} workers")
    d = json.loads(json_lines[-1])
    d["subprocess_sec"] = round(time.time() - t0, 1)
    d["n_workers"] = n_workers
    d["executors"] = n_workers
    return d


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip-prep", action="store_true")
    ap.add_argument("--min-cap", type=float, default=30.0)
    ap.add_argument("--min-cap-lo", type=float, default=8.2)
    ap.add_argument("--min-ceiling", type=float, default=0.82)
    ap.add_argument("--drift-band", type=float, default=0.07)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "bench_cluster.json"))
    args = ap.parse_args()

    if not args.skip_prep:
        prepare_inputs(args.sf_dir)

    zip_path = make_zip()

    # Settle past the prep JVM's exit-reclaim transient before the start
    # bracket (first run: the 8-width cal read 13.4 u/s seconds after the
    # local[32] prep JVM exited, vs ~40 true capacity — same transient the
    # leg harness settles through at its boundaries). Wait until two
    # consecutive medians agree within 5%.
    # The window still opens if they never do, but the record says so.
    prev_c = hw_calibration_med(HI, reps=3)
    settle_converged = False
    for _ in range(10):
        time.sleep(15)
        cur = hw_calibration_med(HI, reps=3)
        if abs(cur / prev_c - 1.0) <= 0.05:
            settle_converged = True
            break
        prev_c = cur

    cal_s = {str(LO): round(hw_calibration_med(LO, reps=5), 1),
             str(HI): round(hw_calibration_med(HI, reps=3), 1)}
    ceiling_s = round(cal_s[str(HI)] / (4 * cal_s[str(LO)]), 3)
    rec: dict = {
        "method": "standalone_executors",
        "n_lo_executors": LO_WORKERS, "n_hi_executors": HI_WORKERS,
        "cores_per_executor": CORES_PER_WORKER,
        "launch": "spark-submit --py-files identity_matching_spark.zip bench.py",
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "cal_start": cal_s, "ceiling_start": ceiling_s,
        "settle_converged": settle_converged,
        "accepted": False, "reject_reason": None,
    }

    def bail(reason: str) -> int:
        rec["reject_reason"] = reason
        with open(args.out, "w") as fh:
            json.dump(rec, fh, indent=2)
        print(json.dumps({"accepted": False, "reason": reason,
                          "cal_start": cal_s}), flush=True)
        return 3

    if cal_s[str(HI)] < args.min_cap or cal_s[str(LO)] < args.min_cap_lo:
        return bail(f"window opened degraded: {cal_s} < floors "
                    f"{args.min_cap_lo}/{args.min_cap}")
    if ceiling_s < args.min_ceiling:
        return bail(f"window opened with ceiling {ceiling_s} < {args.min_ceiling}")

    rec["mem_cal_start"] = round(mem_calibration(HI), 2)

    try:
        hi = run_leg(HI_WORKERS, args.sf_dir, zip_path, 0.93 * cal_s[str(HI)])
        # settle past the cluster-teardown reclaim before the lo leg
        for _ in range(5):
            time.sleep(15)
            if hw_calibration_med(HI, reps=3) >= 0.95 * cal_s[str(HI)]:
                break
        lo = run_leg(LO_WORKERS, args.sf_dir, zip_path, 0.93 * cal_s[str(LO)])
    except (SystemExit, RuntimeError) as exc:
        return bail(str(exc))
    rec["hi"], rec["lo"] = hi, lo

    cal_e = {str(LO): round(hw_calibration_med(LO, reps=5), 1),
             str(HI): round(hw_calibration_med(HI, reps=3), 1)}
    rec["cal_end"] = cal_e
    rec["ceiling_end"] = round(cal_e[str(HI)] / (4 * cal_e[str(LO)]), 3)
    rec["mem_cal_end"] = round(mem_calibration(HI), 2)
    rec["drift"] = {w: round(cal_e[w] / cal_s[w], 3) for w in (str(LO), str(HI))}
    eff = round(hi["kernel_pairs_per_sec"] / (4 * lo["kernel_pairs_per_sec"]), 3)
    rec["scaling_efficiency_kernel_executors"] = eff

    bad = [w for w, d in rec["drift"].items() if abs(d - 1.0) > args.drift_band]
    if bad:
        return bail(f"bracket drift out of band at widths {bad}: {rec['drift']}")
    rec["accepted"] = True
    with open(args.out, "w") as fh:
        json.dump(rec, fh, indent=2)
    print(json.dumps({
        "accepted": True, "scaling_efficiency_kernel_executors": eff,
        "hi_pairs_per_sec": hi["kernel_pairs_per_sec"],
        "lo_pairs_per_sec": lo["kernel_pairs_per_sec"],
        "cal_start": cal_s, "cal_end": cal_e, "drift": rec["drift"],
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
