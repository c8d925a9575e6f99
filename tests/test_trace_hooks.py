"""The benchmark tracer patches named fastlink_spark hooks; a rename of
one of them must fail here, not only under ``perfbench/run.py --trace 1``.
Spark-free: installing the tracer only swaps module attributes."""

import inspect

from perfbench.trace import Tracer

from fastlink_spark import em
from fastlink_spark.operators import cluster
from fastlink_spark.plans import checkpoint, link_two, materialize, pipeline

PATCHED = [
    (pipeline, "link_dedupe"),
    (link_two, "link_records"),
    (link_two, "dedupe_matches"),
    (link_two, "_resolve_mat"),
    (em, "emlink_mar"),
    (cluster, "connected_components"),
    (checkpoint.CheckpointManager, "stage"),
]


def _snapshot():
    objs = {id(o): o for o, _ in PATCHED}
    return {k: dict(vars(o)) for k, o in objs.items()}


def test_tracer_restores_every_patched_hook():
    before = _snapshot()
    with Tracer().installed():
        inside = _snapshot()
        for obj, attr in PATCHED:
            assert inside[id(obj)][attr] is not before[id(obj)][attr], attr
    after = _snapshot()
    for key, attrs in before.items():
        assert after[key].keys() == attrs.keys()
        for attr, val in attrs.items():
            assert after[key][attr] is val, attr


def test_tracer_call_shapes_bind_to_hooks():
    # the wrappers call the originals with exactly these shapes
    inspect.signature(link_two._resolve_mat).bind(None)
    inspect.signature(materialize.resolve).bind(None)
    inspect.signature(cluster.connected_components).bind(None, None, materializer=None)
    inspect.signature(checkpoint.CheckpointManager.stage).bind(None, "records", lambda: None)
