"""Self-test for the output checks: each must fail on a planted fault.

    python3 perfbench/selftest.py

Runs the real in-memory pipeline (exact comparators) on a tiny corpus,
confirms that every check passes on its outputs, then plants one fault at
a time in a copy of them and confirms the named check reports it:

* one flipped score          -> grades (and the fingerprint)
* one dropped bridge edge    -> clusters (and the fingerprint)
* one altered content hash   -> content

Exits 0 when every planted fault is caught.
"""

from __future__ import annotations

import os
import shutil
import sys
from collections import Counter
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

ENTITIES = 30


def _rewrite(src: str, dst: str, edit) -> None:
    """Copy the parquet dataset src to dst with edit(dict of columns) applied."""
    table = pq.read_table(src).to_pydict()
    edit(table)
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    pq.write_table(pa.Table.from_pydict(table), os.path.join(dst, "part-0.parquet"))


def main() -> int:
    import run

    root = run.checkout_root()
    if root is None:
        return 2
    work = run.fresh_work(root, "selftest")
    os.environ.update(run.host_env(root, work))  # inherited by the JVM and its workers
    sys.path.insert(0, root)

    import checks
    import job
    import workloads

    args = SimpleNamespace(workload="link-small", seed=workloads.DEFAULT_SEED, cpus=2,
                           trace=0, driver_log=None, work=work, reference=False)
    bench = job.Run(args)
    bench.wl = workloads.Workload("selftest", "pipeline", ENTITIES, {"enable_fuzzy": False})
    spark, _ = bench.setup()
    try:
        res = bench.link(spark, None)
        res.records.select("record_id", "content_sha256").write.parquet(bench.dirs["records"])
    finally:
        spark.stop()
    d = bench.dirs
    clean = checks.run_all(d["input"], d["records"], d["out"], job.THRESHOLD, None)
    fp = clean.fingerprint

    def check(label, records_dir, out_dir, expect):
        got = checks.run_all(d["input"], records_dir, out_dir, job.THRESHOLD, fp).failures
        named = sorted({f.split(":", 1)[0] for f in got})
        ok = named == sorted(expect)
        print(f"{'PASS' if ok else 'FAIL'} {label}: checks failed {named}, expected {sorted(expect)}")
        for f in got:
            print(f"    {f[:200]}")
        return ok

    results = [check("clean outputs", d["records"], d["out"], [])]

    # 1. one flipped score
    def flip(t):
        t["score"][0] = 0.10 if t["score"][0] != 0.10 else 0.99
    out = os.path.join(work, "fault_score")
    shutil.copytree(os.path.join(d["out"], "clusters"), os.path.join(out, "clusters"))
    _rewrite(os.path.join(d["out"], "scored_pairs"), os.path.join(out, "scored_pairs"), flip)
    results.append(check("flipped score", d["records"], out, ["grades", "fingerprint"]))

    # 2. one dropped edge that is the only link of a two-record cluster
    clusters = pq.read_table(os.path.join(d["out"], "clusters")).to_pydict()
    assign = dict(zip(clusters["record_id"], clusters["cluster_id"]))
    sizes = Counter(clusters["cluster_id"])

    def drop(t):
        for i, (l, s) in enumerate(zip(t["left_id"], t["score"])):
            if s >= job.THRESHOLD and sizes[assign[l]] == 2:
                for col in t.values():
                    del col[i]
                return
        raise RuntimeError("no two-record cluster to break")
    out = os.path.join(work, "fault_edge")
    shutil.copytree(os.path.join(d["out"], "clusters"), os.path.join(out, "clusters"))
    _rewrite(os.path.join(d["out"], "scored_pairs"), os.path.join(out, "scored_pairs"), drop)
    results.append(check("dropped edge", d["records"], out, ["clusters", "fingerprint"]))

    # 3. one altered content hash
    def alter(t):
        t["content_sha256"][0] = "0" * 64
    records = os.path.join(work, "fault_content")
    _rewrite(d["records"], records, alter)
    results.append(check("altered content hash", records, d["out"], ["content"]))
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
