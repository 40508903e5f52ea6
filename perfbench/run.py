"""Linkage benchmark: one run of one workload, checked and measured.

    python3 perfbench/run.py --workload link-small --seed 42 --seconds 40 --trace 0

Run from the root of a checkout. The run starts ``job.py`` as a fresh
process (one closed-loop batch job: a single client, one linkage at a
time, ``local[nproc]``) with host-fit settings set here, outside the
program:

* driver memory  SPARK_DRIVER_MEMORY = 40% of MemTotal, at most 24g
* cores          local[nproc]
* Python path    PYTHONPATH = the checkout, so pandas-UDF workers import
                 the package from any cwd
* shuffle / tmp  on disk under .bench_build/perfbench, never /dev/shm

While the job runs, this process samples the resident memory of the
job's whole process group (driver JVM, driver Python, Python workers)
from /proc. All scratch files live under ``.bench_build/perfbench``.

The last line of output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer table of a separately traced run with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

JOB_TIMEOUT_S = 150  # the whole run must end within 180 s
SAMPLE_S = 0.5
PAGE = os.sysconf("SC_PAGE_SIZE")


def driver_memory() -> str:
    with open("/proc/meminfo", encoding="ascii") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(24, int(kb * 0.4 / 2**20)))}g"


def group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # fields after "(comm)": state, ppid, pgrp
            pids.append(int(name))
    return pids


def group_rss_mb(pgid: int) -> float:
    total = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * PAGE / 2**20


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the job's process group; wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not group_pids(pgid):
            return


def host_env(root: str, work: str) -> dict[str, str]:
    """The job's environment: host-fit settings, nothing written outside work."""
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=driver_memory(),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def run_job(workload: str, seed: int, trace: int, root: str, work: str,
            extra: tuple[str, ...] = (), timeout_s: float = JOB_TIMEOUT_S,
            ) -> tuple[dict | None, list, str]:
    """Run job.py once; return (its result or None, RSS samples, driver log)."""
    log = os.path.join(work, "driver.log")
    result = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "job.py"),
        "--workload", workload, "--seed", str(seed), "--trace", str(trace),
        "--cpus", str(os.cpu_count()), "--work", work, "--driver-log", log,
        "--result", result, *extra,
    ]
    samples = []
    with open(log, "w", encoding="utf-8") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=host_env(root, work), stdout=fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        deadline = time.monotonic() + timeout_s
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                samples.append((time.time(), group_rss_mb(proc.pid)))
                time.sleep(SAMPLE_S)
        finally:
            stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        return None, samples, log
    with open(result, encoding="utf-8") as fh:
        return json.load(fh), samples, log


def declared_metrics(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def fresh_work(root: str, name: str) -> str:
    work = os.path.join(root, ".bench_build", "perfbench", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def checkout_root() -> str | None:
    root = os.getcwd()
    if os.path.isfile(os.path.join(root, "identity_matching_spark", "plans", "pipeline.py")):
        return root
    print("perfbench: run from the root of a checkout that holds identity_matching_spark/",
          file=sys.stderr)
    return None


def print_log_tail(log: str) -> None:
    with open(log, encoding="utf-8", errors="replace") as fh:
        tail = fh.readlines()[-30:]
    print("perfbench: the job failed; last lines of its driver log:", file=sys.stderr)
    sys.stderr.writelines(tail)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=workloads.DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=30,
                    help="accepted and ignored: a run is one cold batch job, whose "
                         "length the workload's size fixes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its job (run_job's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = checkout_root()
    if root is None:
        return 2
    work = fresh_work(root, args.workload)
    res, samples, log = run_job(args.workload, args.seed, args.trace, root, work)
    if res is None:
        print_log_tail(log)
        return 1

    t0, t1 = res["link_window"]
    peak_rss_mb = max([mb for t, mb in samples if t0 <= t <= t1] or [0.0])
    failures = res["failures"]
    for f in failures:
        print(f"CHECK FAILED {f}")
    pairs_per_s = res["fingerprint"]["pairs"] / res["link_s"]
    if args.trace:
        res["layers"]["trace.peak_rss_mb"] = peak_rss_mb
        res["layers"]["trace.pairs_per_s"] = pairs_per_s
        res["layers"]["trace.host_cal_ms"] = res["host_cal_ms"]
        metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                   for m in declared_metrics(root)["per_layer"]}
        shown = metrics
    else:
        metrics = {
            "link_s": {"value": res["link_s"], "unit": "s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
        }
        # too input- or GC-dependent to hold a bound (README.md); shown, not gated
        shown = dict(metrics, **{
            "pairs_per_s": {"value": pairs_per_s, "unit": "1/s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "fail_frac": {"value": 1.0 if failures else 0.0, "unit": "ratio"},
            "host_cal_ms": {"value": res["host_cal_ms"], "unit": "ms"},
        })
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"fingerprint {json.dumps(res['fingerprint'], sort_keys=True)}")
    print(f"setup runs (s): {', '.join(f'{s:.3f}' for s in res['setup_runs_s'])}")
    for name, m in shown.items():
        print(f"{name:32s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": not failures,
        "attempted": 1,
        "failed": 1 if failures else 0,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
