"""The benchmark's workloads and the stored output fingerprints."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
DEFAULT_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    path: str            # "pipeline": plans.pipeline.run_pipeline; "cli": cli.main
    entities: int        # corpus.generate_files size (~2.8 files per entity)
    config: dict = field(default_factory=dict)  # MatchConfig overrides (pipeline path)


WORKLOADS = {
    w.name: w
    for w in (
        # Fixed per-run floor of the in-memory path: ~1.1k files, ~4.6k pairs.
        # Exact comparators only (the CLI's --no-fuzzy), so a run fits the
        # benchmark's time budget; the validation gate and its codegen
        # fallback, dense-id interning, the persist barriers and the CC
        # driver finish all stay in.
        Workload("link-small", "pipeline", 400, {"enable_fuzzy": False}),
        # The resumable write path with the default (fuzzy) config:
        # SnapshotStore writes and lineage, phonetic UDFs, the distinct-stem
        # JW table, CC with per-iteration parquet snapshots, output writes
        # and read-back. Fresh checkpoint and output dirs every run.
        # Same input as link-small, so both must reproduce one fingerprint.
        Workload("link-ckpt", "cli", 400),
    )
}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS, encoding="utf-8") as fh:
        return json.load(fh)


def expected_fingerprint(wl: Workload, seed: int) -> dict | None:
    """The stored fingerprint for this input, or None when none is stored.
    Stored values come from ``reference.py``: run_pipeline with the default
    MatchConfig, so a match also proves both paths agree."""
    return load_fingerprints().get(str(wl.entities), {}).get(str(seed))
