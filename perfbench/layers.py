"""Per-layer spans, attached from outside the program.

``Tracer.install()`` wraps the public layer functions where the linkage
entry points look them up (``plans/pipeline`` imports some at module level
and some at call time from their own modules). Each wrapper opens a span,
sets the Spark job group to the layer name so the event log attributes the
layer's jobs to it, and MATERIALIZES the layer's output (persist + count)
before closing the span. Without that, Spark's laziness would run every
layer's work inside whichever later action first needs it. The extra
persist points are the tracing overhead, measured as the gap between the
traced and the untraced ``link_s``.

Only top-level spans are summed against ``link_s``; ``jw_table`` nests
inside ``score`` and is reported on its own.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark import StorageLevel

CODEGEN_FALLBACK = "Whole-stage codegen disabled for plan"


class Tracer:
    def __init__(self, spark, driver_log: str | None):
        self.sc = spark.sparkContext
        self.driver_log = driver_log
        self.spans: list[dict] = []   # closed spans, in close order
        self.stack: list[dict] = []
        self.refs: dict = {}          # layer outputs kept for post-run counts
        self.counts: dict[str, float] = {"cc.iterations": 0, "cc.driver_finish": 0}
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _fallbacks(self) -> int:
        if not self.driver_log:
            return 0
        with open(self.driver_log, encoding="utf-8", errors="replace") as fh:
            return sum(line.count(CODEGEN_FALLBACK) for line in fh)

    def open(self, name: str) -> None:
        self.stack.append({
            "name": name,
            "parent": self.stack[-1]["name"] if self.stack else None,
            "t0": time.perf_counter(),
            "fallbacks0": self._fallbacks(),
        })
        self.sc.setJobGroup(name, name)

    def close(self, name: str) -> None:
        span = self.stack.pop()
        if span["name"] != name:
            raise RuntimeError(f"span {name!r} closed while {span['name']!r} is open")
        span["wall_s"] = time.perf_counter() - span.pop("t0")
        span["codegen_fallbacks"] = self._fallbacks() - span.pop("fallbacks0")
        self.spans.append(span)
        if self.stack:
            top = self.stack[-1]["name"]
            self.sc.setJobGroup(top, top)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        self.open(name)
        try:
            yield
        finally:
            self.close(name)

    def materialize(self, df, ref: str | None = None):
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = out.count()
        if ref:
            self.refs[ref] = out
            self.counts[ref + ".rows"] = n
        return out

    def wall(self, name: str) -> float:
        return sum(s["wall_s"] for s in self.spans if s["name"] == name)

    def top_level_wall(self) -> float:
        return sum(s["wall_s"] for s in self.spans if s["parent"] is None)

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from identity_matching_spark.operators import blocking, cluster, compare
        from identity_matching_spark.operators import normalize as normalize_mod
        from identity_matching_spark.plans import pipeline
        from identity_matching_spark.sources.snapshots import SnapshotStore

        t = self

        def opens(name):
            def make(orig):
                def wrapper(*a, **kw):
                    t.open(name)
                    return orig(*a, **kw)
                return wrapper
            return make

        def closes(name, ref):
            def make(orig):
                def wrapper(*a, **kw):
                    out = t.materialize(orig(*a, **kw), ref)
                    t.close(name)
                    return out
                return wrapper
            return make

        def spans(name, ref):
            def make(orig):
                def wrapper(*a, **kw):
                    with t.span(name):
                        return t.materialize(orig(*a, **kw), ref)
                return wrapper
            return make

        def blocking_span(orig):
            def wrapper(*a, **kw):
                with t.span("blocking"):
                    res = orig(*a, **kw)
                    res.pairs = t.materialize(res.pairs, "blocking.pairs")
                t.refs["blocking.block_stats"] = res.block_stats
                return res
            return wrapper

        def keep(ref):
            def make(orig):
                def wrapper(*a, **kw):
                    out = orig(*a, **kw)
                    t.refs[ref] = out
                    return out
                return wrapper
            return make

        def tally(key):
            def make(orig):
                def wrapper(*a, **kw):
                    t.counts[key] += 1
                    return orig(*a, **kw)
                return wrapper
            return make

        def outer_span(name, top_only):
            """Span unless already inside one (any span, when top_only)."""
            def make(orig):
                def wrapper(*a, **kw):
                    if t.stack and (top_only or t.stack[-1]["name"] == name):
                        return orig(*a, **kw)
                    with t.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        # normalize: normalize_files opens, validation_gate materializes
        self._patch(pipeline, "normalize_files", opens("normalize"))
        self._patch(pipeline, "validation_gate", closes("normalize", "normalize"))
        self._patch(normalize_mod, "with_dense_ids", spans("dense_ids", "dense_ids"))
        self._patch(compare, "enrich_phonetic", spans("phonetic", "phonetic"))
        self._patch(pipeline, "candidate_pairs", blocking_span)
        self._patch(blocking, "blocking_keys", keep("blocking.keyed"))
        # score: the compare call opens, grade_pairs materializes (scored barrier)
        self._patch(compare, "compare_pairs_fuzzy", opens("score"))
        self._patch(pipeline, "compare_pairs", opens("score"))
        self._patch(compare, "jw_stem_table", spans("jw_table", "jw_table"))
        self._patch(pipeline, "grade_pairs", closes("score", "score"))
        self._patch(pipeline, "connected_components", spans("cc", "cc"))
        self._patch(cluster, "_small_star", tally("cc.iterations"))
        self._patch(cluster, "_finish_in_driver", tally("cc.driver_finish"))
        self._patch(pipeline, "clusters_with_singletons", spans("join_back", "join_back"))
        for attr in ("write", "read", "partition_metrics", "log_lineage", "lineage"):
            self._patch(SnapshotStore, attr, outer_span("snapshots", top_only=False))
        # output writes outside every layer: job.py's (in-memory path) and cli.main's
        self._patch(DataFrameWriter, "parquet", outer_span("output", top_only=True))
