"""Pure summarising helpers of the benchmark: workload and layer tables,
the timed sets, and the tail-percentile rule.  No Spark import here, so the
self-test runs without a JVM."""

from __future__ import annotations

import math

QUERY_PACKAGE = "spark_tensors_spark.queries."

# Each workload is a set of whole registry modules; TIMED_SET samples them.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "kg-doc": ("kg", "mlops", "tensor_queries", "graph_queries",
               "pipeline_queries"),
    "events-stream": ("streaming_queries",),
}

# Registry module -> repo layer that does most of its work.
LAYER_OF_MODULE: dict[str, str] = {
    "kg": "kg",
    "mlops": "train",
    "tensor_queries": "train",
    "graph_queries": "operators",
    "temporal_queries": "operators",
    "pipeline_queries": "pipeline",
    "streaming_queries": "streaming",
}

LAYERS = ("kg", "train", "operators", "pipeline", "streaming")

# The queries a run times, by workload and layer.  Whole modules take
# 90-140 s a pass, more than a run's share of a full measurement, so each
# layer is sampled from a steady-state probe of its whole modules
# (probe.py): the layer's median-cost query, plus the cheapest query that
# runs each mechanism the workload is declared for when the median one
# does not.  NOTES.md gives the probe, the mechanisms and the share of
# module time and jobs the sets cover.
TIMED_SET: dict[str, dict[str, tuple[str, ...]]] = {
    "kg-doc": {
        "kg": ("kg_tensor_blocks",),
        "train": ("kge_hole_step_exact",),
        "operators": ("graph_kcore",),
        "pipeline": ("emb_l2_topk",),
    },
    "events-stream": {
        # ev_stream_merge is the median; ev_stream_sessionize is the
        # cheapest query with a stateful operator
        "streaming": ("ev_stream_merge", "ev_stream_sessionize"),
    },
}

# Timed passes a run summarises: the first ones after the warm-up pass,
# the same positions on every commit however many passes fit the window.
TIMED_PASSES = 6


def best_latencies(executions, passes: int = TIMED_PASSES) -> dict:
    """Each query's lowest latency over timed passes ``0 .. passes - 1``.

    ``executions`` are records with ``name``, ``pass`` (-1 for warm-up)
    and ``latency_s`` (None for a failed execution).  A host that takes
    the CPUs away in bursts inflates single executions, never shortens
    them, so the lowest of several is the steadiest reading of a query's
    steady-state latency."""
    best: dict = {}
    for e in executions:
        lat = e["latency_s"]
        if 0 <= e["pass"] < passes and lat is not None:
            best[e["name"]] = min(lat, best.get(e["name"], lat))
    return dict(sorted(best.items()))


def module_of(fn) -> str:
    """Short registry-module name of a query function."""
    mod = fn.__module__
    if not mod.startswith(QUERY_PACKAGE):
        raise ValueError(f"{fn.__name__} is not a registry query ({mod})")
    return mod[len(QUERY_PACKAGE):]


def layer_of(fn) -> str:
    return LAYER_OF_MODULE[module_of(fn)]


def workload_queries(registry: dict, workload: str) -> dict:
    """The registry entries whose module belongs to ``workload``, in
    registry name order."""
    mods = WORKLOADS[workload]
    return {n: registry[n] for n in sorted(registry)
            if module_of(registry[n]) in mods}


def timed_set(registry: dict, workload: str) -> dict:
    """The workload's timed queries, in name order.  Each must belong to
    one of the workload's modules and to the layer it is listed under."""
    out = {}
    for layer, names in TIMED_SET[workload].items():
        for name in names:
            fn = registry[name]
            if module_of(fn) not in WORKLOADS[workload] or layer_of(fn) != layer:
                raise ValueError(f"{name} is not a {layer} query of {workload}")
            out[name] = fn
    return dict(sorted(out.items()))


def tail_percentile(samples, min_beyond: int = 10):
    """Highest whole percentile (50..99) with at least ``min_beyond``
    samples strictly above its nearest-rank value.

    Returns ``(percentile, value, n_beyond)``.  With fewer than
    ``2 * min_beyond`` samples no percentile qualifies and the median is
    returned with the count actually beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in range(99, 49, -1):
        value = xs[max(math.ceil(p * n / 100), 1) - 1]
        beyond = sum(1 for x in xs if x > value)
        if beyond >= min_beyond:
            return p, value, beyond
    value = xs[max(math.ceil(n / 2), 1) - 1]
    return 50, value, sum(1 for x in xs if x > value)
