"""Record the stored output fingerprints in fingerprints.json.

    python3 perfbench/reference.py            # seeds 42 and 7
    python3 perfbench/reference.py --seed 42

For each workload input size and seed, runs ``run_pipeline`` with the
default MatchConfig (the in-memory path, fuzzy comparators on) and stores
its fingerprint. Every benchmark run on a stored seed must reproduce it,
whichever path and config the workload uses, so a match also proves that
the checkpointed CLI and the exact-only config agree with the default
in-memory path. Re-run after a deliberate change to the corpus or to the
engine's outputs, and say why in the change that commits the new values.
"""

from __future__ import annotations

import argparse
import json
import sys

import run
import workloads


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, action="append")
    args = ap.parse_args(argv)
    root = run.checkout_root()
    if root is None:
        return 2
    stored = workloads.load_fingerprints()
    by_size = {w.entities: w.name for w in workloads.WORKLOADS.values()}  # one run per size
    for seed in args.seed or [workloads.DEFAULT_SEED, 7]:
        for entities, name in sorted(by_size.items()):
            work = run.fresh_work(root, "reference")
            res, _samples, log = run.run_job(name, seed, 0, root, work, ("--reference",),
                                             timeout_s=900)
            if res is None or res["failures"]:
                if res is None:
                    run.print_log_tail(log)
                else:
                    print("\n".join(res["failures"]), file=sys.stderr)
                return 1
            stored.setdefault(str(entities), {})[str(seed)] = res["fingerprint"]
            print(f"entities {entities} seed {seed}: {json.dumps(res['fingerprint'])}")
    with open(workloads.FINGERPRINTS, "w", encoding="utf-8") as fh:
        json.dump(stored, fh, indent=2, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
