"""Connected components vs a union-find oracle on randomized graphs."""

import random

import pytest
from pyspark.sql import functions as F

from identity_matching_spark import config as config_mod
from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.cluster import connected_components


@pytest.fixture(autouse=True)
def _release_local_checkpoints(spark):
    """Drop the persisted RDDs each test leaves. The star loop's last local
    checkpoint backs the assignments it returns lazily, so
    connected_components cannot release it; left behind, the JVM's garbage
    collector frees it at an arbitrary later moment, which would change
    the persisted-RDD count a later test takes around a pipeline run."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    yield
    left = rdds()
    for rdd_id in set(left.keySet()) - before:
        left.get(rdd_id).unpersist(False)


@pytest.fixture
def star_loop(monkeypatch):
    """Driver-finish limit 0: the pure distributed star loop (the default
    would hand these tiny graphs to the driver finisher, which has its own
    equivalence test below)."""
    monkeypatch.setattr(config_mod, "DRIVER_FINISH_EDGES", 0)


def _uf_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, representative = min id in component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        rep = min(members)
        for m in members:
            out[m] = rep
    return out


@pytest.mark.parametrize("seed,n,m", [(1, 30, 20), (2, 80, 100), (3, 120, 60), (4, 50, 200)])
def test_cc_matches_union_find(spark, star_loop, seed, n, m):
    rng = random.Random(seed)
    nodes = [f"n{i:04d}" for i in range(n)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(m)]
    edf = spark.createDataFrame(edges, ["left_id", "right_id"])
    got = {
        r["record_id"]: r["cluster_id"]
        for r in connected_components(edf, MatchConfig()).collect()
    }
    want = _uf_components(nodes, edges)
    touched = {a for e in edges for a in e}
    for node in touched:
        assert got[node] == want[node], (seed, node)


def test_cc_chain_converges(spark, star_loop):
    """A long path graph is the worst case for label propagation — the
    large/small-star algorithm must still converge within the bound."""
    n = 200
    edges = [(f"c{i:04d}", f"c{i+1:04d}") for i in range(n - 1)]
    edf = spark.createDataFrame(edges, ["left_id", "right_id"])
    got = connected_components(edf, MatchConfig())
    assert got.select("cluster_id").distinct().count() == 1
    assert got.count() == n


@pytest.mark.parametrize("seed,n,m", [(11, 90, 140), (12, 40, 15)])
def test_driver_finish_equivalence(spark, monkeypatch, seed, n, m):
    """The driver union-find finisher (default ephemeral path for small
    edge sets) must produce EXACTLY the assignments of the pure
    distributed loop — same representatives (min record_id), same rows."""
    rng = random.Random(seed)
    nodes = [f"d{i:04d}" for i in range(n)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(m)]
    edf = spark.createDataFrame(edges, ["left_id", "right_id"])
    via_driver = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(edf, MatchConfig()).collect()
    }
    monkeypatch.setattr(config_mod, "DRIVER_FINISH_EDGES", 0)
    via_loop = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(edf, MatchConfig()).collect()
    }
    assert via_driver == via_loop


def test_cc_durable_checkpoint_resume(spark, tmp_path, monkeypatch):
    """With config.checkpoint_dir set, every CC iteration persists as
    cc_iter_NNN parquet and a fresh call resumes from the last complete
    iteration (same fixed point, no re-derivation from raw edges)."""
    import os

    random.seed(7)
    edges = spark.createDataFrame(
        [(f"n{random.randrange(60):03d}", f"n{random.randrange(60):03d}") for _ in range(80)],
        ["left_id", "right_id"],
    )
    plain = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(edges, MatchConfig()).collect()
    }
    d = str(tmp_path / "cc")
    # no driver finish: the loop and its iteration snapshots stay under test
    monkeypatch.setattr(config_mod, "DRIVER_FINISH_EDGES", 0)
    cfg = MatchConfig(checkpoint_dir=d)
    durable = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(edges, cfg).collect()
    }
    assert durable == plain
    iters = sorted(p for p in os.listdir(d) if p.startswith("cc_iter_"))
    assert len(iters) >= 2  # initial canonical set + >=1 star iteration

    # resume: a second run reuses the persisted iterations (no new dirs
    # beyond at most one post-convergence iteration) and agrees exactly
    resumed = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(edges, cfg).collect()
    }
    assert resumed == plain
    iters2 = sorted(p for p in os.listdir(d) if p.startswith("cc_iter_"))
    assert len(iters2) <= len(iters) + 1


def test_cc_checkpoint_invalidated_on_different_edges(spark, tmp_path, star_loop):
    """ADVICE r2 (medium): reusing a checkpoint_dir with a DIFFERENT edge
    set must NOT resume the previous run's iterations — the manifest
    fingerprint discards stale cc_iter_* snapshots and the second graph
    clusters correctly (previously it silently emitted clusters for the
    wrong graph, including record_ids absent from the new data)."""
    d = str(tmp_path / "cc")
    # no driver finish (star_loop): the loop and its iteration snapshots
    # stay under test
    cfg = MatchConfig(checkpoint_dir=d)
    graph_a = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a4", "a5")], ["left_id", "right_id"]
    )
    got_a = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(graph_a, cfg).collect()
    }
    assert ("a3", "a1") in got_a
    # same dir, entirely different graph
    graph_b = spark.createDataFrame(
        [("b1", "b2"), ("b3", "b4"), ("b4", "b5")], ["left_id", "right_id"]
    )
    got_b = connected_components(graph_b, cfg).collect()
    ids = {r["record_id"] for r in got_b}
    assert ids == {"b1", "b2", "b3", "b4", "b5"}  # no a* leakage
    comp = {r["record_id"]: r["cluster_id"] for r in got_b}
    assert comp["b2"] == "b1" and comp["b5"] == "b3" and comp["b4"] == "b3"
    # and an unchanged re-run still resumes (manifest matches)
    again = {
        (r["record_id"], r["cluster_id"])
        for r in connected_components(graph_b, cfg).collect()
    }
    assert again == {(r["record_id"], r["cluster_id"]) for r in got_b}


@pytest.mark.parametrize("seed,n,m", [(21, 70, 110), (22, 35, 12)])
def test_long_cc_matches_string_cc(spark, monkeypatch, seed, n, m):
    """CC over LONG ids (the pipeline's dense-didx edge regime) must agree
    with CC over the same graph keyed by strings, under an order-preserving
    id bijection (didx is the rank of record_id, so min-long rep maps to
    min-string rep). Covers both the driver finisher (default config) and
    the pure star loop (driver-finish limit 0) on long keys."""
    rng = random.Random(seed)
    nodes = list(range(n))
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(m)]
    sid = lambda i: f"s{i:05d}"  # order-preserving long -> string bijection
    edf_l = spark.createDataFrame(edges, "left_id long, right_id long")
    edf_s = spark.createDataFrame(
        [(sid(a), sid(b)) for a, b in edges], ["left_id", "right_id"]
    )
    cfg = MatchConfig()
    for limit in (config_mod.DRIVER_FINISH_EDGES, 0):
        monkeypatch.setattr(config_mod, "DRIVER_FINISH_EDGES", limit)
        got_l = {
            (sid(r["record_id"]), sid(r["cluster_id"]))
            for r in connected_components(edf_l, cfg).collect()
        }
        got_s = {
            (r["record_id"], r["cluster_id"])
            for r in connected_components(edf_s, cfg).collect()
        }
        assert got_l == got_s, (seed, limit)
