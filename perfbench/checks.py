"""Output checks against references that share no code with the engine.

Every check reads parquet with pyarrow and recomputes its reference in
plain Python, so a fault in the Spark plan cannot cancel itself out:

* content      sha256 of each source file's content equals the record's
               ``content_sha256``; records and files are the same id set
* grades       every scored pair's score, weight and verdict equal
               ``oracle.score_match`` / ``match_weight`` / ``mdm_verdict``
               of its own flag vector
* clusters     equal a union-find over edges with score >= threshold,
               singletons included, cluster id = min record_id
* fingerprint  counts plus order-free hashes of pairs and cluster
               assignments equal the stored values (default seed only)

Each failure is one string naming the check and its first differing rows.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from identity_matching_spark.oracle import FLAG_FIELDS, Flags, match_weight, mdm_verdict, score_match

SEP = "\x1f"
PAIR_COLS = ["left_id", "right_id", "score", "weight", "verdict"]
SHOW = 5


@dataclass
class Outcome:
    fingerprint: dict
    failures: list[str] = field(default_factory=list)


def _read(path: str, columns: list[str]) -> dict[str, list]:
    return pq.read_table(path, columns=columns).to_pydict()


def check_content(files: dict[str, list], records: dict[str, list]) -> list[str]:
    want = {}
    for repo, path, commit, content in zip(
        files["repo"], files["path"], files["commit"], files["content"]
    ):
        rid = hashlib.sha256(SEP.join((repo, path, commit)).encode()).hexdigest()
        want[rid] = hashlib.sha256(content.encode()).hexdigest()
    got = dict(zip(records["record_id"], records["content_sha256"]))
    bad = [
        (rid, want.get(rid), got.get(rid))
        for rid in sorted(want.keys() | got.keys())
        if want.get(rid) != got.get(rid)
    ]
    if not bad:
        return []
    rows = "; ".join(f"{r[:12]} want={w} got={g}" for r, w, g in bad[:SHOW])
    return [f"content: {len(bad)} records differ from sha256(content): {rows}"]


def check_grades(pairs: dict[str, list]) -> list[str]:
    oracle: dict[tuple, tuple] = {}
    bad = []
    flags = [pairs[f] for f in FLAG_FIELDS]
    for i, vec in enumerate(zip(*flags)):
        want = oracle.get(vec)
        if want is None:
            f = Flags(*vec)
            want = oracle[vec] = (score_match(f), match_weight(f), mdm_verdict(f))
        got = (pairs["score"][i], pairs["weight"][i], pairs["verdict"][i])
        if got != want:
            bad.append((pairs["left_id"][i], pairs["right_id"][i], want, got))
    if not bad:
        return []
    rows = "; ".join(f"({l[:12]},{r[:12]}) want={w} got={g}" for l, r, w, g in bad[:SHOW])
    return [f"grades: {len(bad)} pairs differ from the oracle decision table: {rows}"]


def union_find_clusters(ids, pairs: dict[str, list], threshold: float) -> dict[str, str]:
    parent = {i: i for i in ids}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for l, r, s in zip(pairs["left_id"], pairs["right_id"], pairs["score"]):
        if s >= threshold:
            a, b = find(l), find(r)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in parent}


def check_clusters(ids, pairs: dict[str, list], clusters: dict[str, list],
                   threshold: float) -> list[str]:
    want = union_find_clusters(ids, pairs, threshold)
    got = dict(zip(clusters["record_id"], clusters["cluster_id"]))
    problems = []
    if len(got) != len(clusters["record_id"]):
        problems.append(f"{len(clusters['record_id']) - len(got)} duplicate record rows")
    bad = [
        (rid, want.get(rid), got.get(rid))
        for rid in sorted(want.keys() | got.keys())
        if want.get(rid) != got.get(rid)
    ]
    if bad:
        rows = "; ".join(f"{r[:12]} want={str(w)[:12]} got={str(g)[:12]}" for r, w, g in bad[:SHOW])
        problems.append(f"{len(bad)} records differ from union-find: {rows}")
    return [f"clusters: {p}" for p in problems]


def _order_free(rows) -> str:
    acc = 0
    for row in rows:
        digest = hashlib.blake2b("\x1f".join(map(repr, row)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "little")) % 2**64
    return f"{acc:016x}"


def fingerprint(pairs: dict[str, list], clusters: dict[str, list], threshold: float) -> dict:
    return {
        "pairs": len(pairs["left_id"]),
        "edges": sum(s >= threshold for s in pairs["score"]),
        "records": len(clusters["record_id"]),
        "clusters": len(set(clusters["cluster_id"])),
        "pairs_hash": _order_free(zip(*(pairs[c] for c in PAIR_COLS))),
        "clusters_hash": _order_free(zip(clusters["record_id"], clusters["cluster_id"])),
    }


def check_fingerprint(got: dict, expected: dict | None) -> list[str]:
    if expected is None:
        return []
    diff = {k: (expected[k], got.get(k)) for k in expected if got.get(k) != expected[k]}
    return [f"fingerprint: differs from the stored value (want, got): {diff}"] if diff else []


def run_all(input_dir: str, records_dir: str, out_dir: str, threshold: float,
            expected: dict | None) -> Outcome:
    files = _read(input_dir, ["repo", "path", "commit", "content"])
    records = _read(records_dir, ["record_id", "content_sha256"])
    pairs = _read(os.path.join(out_dir, "scored_pairs"), PAIR_COLS + FLAG_FIELDS)
    clusters = _read(os.path.join(out_dir, "clusters"), ["record_id", "cluster_id"])
    fp = fingerprint(pairs, clusters, threshold)
    failures = (
        check_content(files, records)
        + check_grades(pairs)
        + check_clusters(records["record_id"], pairs, clusters, threshold)
        + check_fingerprint(fp, expected)
    )
    return Outcome(fingerprint=fp, failures=failures)
