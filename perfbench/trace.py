"""Span tracing around the calls into each layer's public functions.

The tracer lives entirely in the benchmark: while ``installed()`` is
active it swaps a handful of module attributes of ``fastlink_spark``
for wrappers that open a span, call the original, and close the span;
on exit the originals are restored. Spans carry an id, a parent id, a
trace id (one per timed call), a layer name and wall-clock bounds, and
are kept in memory until ``dump``.

Spark is lazy, so a span measures its layer only when the wrapped call
runs the action that materializes its output. Every wrapped call does:
``CheckpointManager.stage`` and the link_two materializer cuts write
parquet, ``emlink_mar`` is driver NumPy, ``dedupe_matches`` and
``connected_components`` cut every round.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

# checkpoint stage / materializer cut name -> layer (module) it times
STAGE_LAYER = {
    "records": "normalize",
    "candidate_pairs": "pairs",
    "pairs_gamma": "gammas",
    "matched_pairs": "match",
    "clusters": "cluster",
    "link_two_pairs": "pairs",
    "link_two_scored": "gammas",
}
LAYERS = ("pipeline", "normalize", "pairs", "gammas", "em", "match", "cluster", "dedupe_matches")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "layer": layer,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Patch the layer entry points for the duration of the block."""
        from fastlink_spark import em
        from fastlink_spark.operators import cluster
        from fastlink_spark.plans import checkpoint, link_two, pipeline

        tracer = self
        orig_stage = checkpoint.CheckpointManager.stage
        orig_resolve = link_two._resolve_mat
        orig_cc = cluster.connected_components

        def stage(mgr, name, build, **kwargs):
            with tracer.span(name, STAGE_LAYER.get(name, "pipeline"), stage=name):
                return orig_stage(mgr, name, build, **kwargs)

        def resolve_mat(materializer):
            mat = orig_resolve(materializer)

            def cut(df, name=""):
                if name not in STAGE_LAYER:
                    return mat(df, name)
                with tracer.span(name, STAGE_LAYER[name], stage=name) as rec:
                    out = mat(df, name)
                rec["df"] = out  # kept for post-call partition counters
                return out

            return cut

        def connected_components(edges, nodes=None, *, materializer=None, **kwargs):
            from fastlink_spark.plans.materialize import resolve

            inner = resolve(materializer)
            with tracer.span("connected_components", "cluster", rounds=0) as rec:

                def counting(df, name=""):
                    if name == "cc_round":
                        rec["attrs"]["rounds"] += 1
                    return inner(df, name)

                return orig_cc(edges, nodes, materializer=counting, **kwargs)

        patches = [
            (pipeline, "link_dedupe", self._wrap(pipeline.link_dedupe, "link_dedupe", "pipeline")),
            (link_two, "link_records", self._wrap(link_two.link_records, "link_records", "pipeline")),
            (link_two, "dedupe_matches", self._wrap(link_two.dedupe_matches, "dedupe_matches", "dedupe_matches")),
            (link_two, "_resolve_mat", resolve_mat),
            (em, "emlink_mar", self._wrap(em.emlink_mar, "emlink_mar", "em")),
            (cluster, "connected_components", connected_components),
            (checkpoint.CheckpointManager, "stage", stage),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        try:
            yield self
        finally:
            for obj, attr, old in saved:
                setattr(obj, attr, old)

    def trace_spans(self, trace_id: int) -> list[dict]:
        return [s for s in self.spans if s["trace"] == trace_id]

    def self_times(self, trace_id: int) -> dict[str, float]:
        """Per-layer self time of one trace: each span's duration minus
        the part of it that its child spans cover, summed by layer."""
        spans = self.trace_spans(trace_id)
        out = dict.fromkeys(LAYERS, 0.0)
        for s in spans:
            kids = sorted(
                (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
            )
            covered, reach = 0.0, s["start"]
            for lo, hi in kids:
                lo = max(lo, reach)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {k: v for k, v in s.items() if k != "df"} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)
