"""Metrics from a worker's result record: the end-to-end set (untraced run)
and the per-layer set (traced run)."""

from __future__ import annotations

import json
import statistics

from tracing import Span, ancestors, attribute, read_event_log, self_times

END_TO_END = {"setup_s": "s", "body_s": "s", "call_p50_ms": "ms",
              "call_p95_ms": "ms", "first_call_p50_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s", "database.open_s": "s", "sources.registry_s": "s",
    "database.query_ms_p50": "ms",
    "cache.hits": "count", "cache.misses": "count", "cache.hit_ratio": "ratio",
    "cache.entries": "count", "cache.hit_us_p50": "us",
    "column.agg_ms_p50": "ms", "column.summary_ms_p50": "ms",
    "table.transform_ms_p50": "ms", "iloc.ms_p50": "ms",
    "queries.build_s": "s", "queries.build_self_s": "s", "queries.action_s": "s",
    "operators.graph.build_s": "s", "operators.graph.jobs": "count",
    "streaming.build_s": "s", "streaming.jobs": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.jobs_per_call": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.busy_ratio": "ratio", "spark.gc_s": "s", "spark.shuffle_mb": "MB",
    "spark.unattributed_jobs": "count", "catalyst.plan_ms": "ms",
    "process.peak_rss_mb": "MB", "tracing.overhead_ratio": "ratio",
}
UNITS = {**END_TO_END, **PER_LAYER}

_F, _R = "facade_session", "registry_ops"
_SETUP = (("setup_s", _F), ("setup_s", _R))
_ENGINE = (("body_s", _R),)
# Which end-to-end metric, on which workload, each per-layer metric should
# move. Cache metrics should not move registry_ops at all; metrics with no
# entry are checks on the run itself.
MOVES = {
    "session.start_s": _SETUP, "database.open_s": _SETUP,
    "sources.registry_s": _SETUP,
    "database.query_ms_p50": (("call_p95_ms", _F),),
    **{m: (("body_s", _F), ("call_p50_ms", _F)) for m in (
        "cache.hits", "cache.misses", "cache.hit_ratio", "cache.entries",
        "cache.hit_us_p50")},
    **{m: (("first_call_p50_ms", _F), ("call_p95_ms", _F)) for m in (
        "column.agg_ms_p50", "column.summary_ms_p50", "table.transform_ms_p50",
        "iloc.ms_p50")},
    **{m: _ENGINE for m in (
        "queries.build_s", "queries.build_self_s", "queries.action_s",
        "operators.graph.build_s",
        "operators.graph.jobs", "streaming.build_s", "streaming.jobs",
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.busy_ratio",
        "spark.gc_s", "spark.shuffle_mb", "catalyst.plan_ms")},
    **{m: (("body_s", _R), ("call_p50_ms", _F)) for m in (
        "spark.jobs", "spark.tasks", "spark.jobs_per_call")},
    "spark.unattributed_jobs": (), "process.peak_rss_mb": (),
    "tracing.overhead_ratio": (),
}


def percentile(values: list[float], p: int, min_beyond: int = 10) -> float:
    """The p-th percentile (``statistics.quantiles``, exclusive method)
    provided at least ``min_beyond`` samples lie beyond it; raises when the
    sample is too small for that."""
    n = len(values)
    if n * (100 - p) / 100 < min_beyond:
        raise ValueError(f"p{p} needs {min_beyond} samples beyond it; got n={n}")
    return statistics.quantiles(values, n=100)[p - 1]


def end_to_end(result: dict, setup_s: float) -> dict[str, float]:
    ops = result["ops"]
    ms = [o["ms"] for o in ops]
    # A batch pass holds ten queries, too few to leave ten beyond any
    # percentile above the median; there the tail falls back to the median.
    p95 = percentile(ms, 95) if len(ms) >= 200 else statistics.median(ms)
    return {"setup_s": setup_s, "body_s": result["body_s"],
            "call_p50_ms": statistics.median(ms), "call_p95_ms": p95,
            "first_call_p50_ms": statistics.median(o["ms"] for o in ops if o["first"])}


def load_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**json.loads(line)) for line in f]


def _p50(xs: list[float], scale: float) -> float:
    return statistics.median(xs) * scale if xs else 0.0


def per_layer(traced: dict, plain: dict, spans: list[Span], jobs) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run, and per-call job counts."""
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def total(name):
        return sum(s.dur for s in by_name.get(name, []))

    def durs(name):
        return [s.dur for s in by_name.get(name, [])]

    owner = attribute(spans, {j: st.submit for j, st in jobs.items()})
    body_jobs, layer_jobs, per_op = [], {"operators.graph": 0, "streaming": 0}, {}
    for job, sid in owner.items():
        chain = ancestors(spans, sid)
        names = [s.name for s in chain]
        if "body" not in names:
            continue
        body_jobs.append(job)
        for layer in layer_jobs:
            if layer in names:
                layer_jobs[layer] += 1
        op = next(s for s in chain if s.name == "op")
        key = op.attrs.get("query") or f"{op.attrs['index']}:{op.attrs['kind']}"
        per_op[key] = per_op.get(key, 0) + 1
    stats = [jobs[j] for j in body_jobs]
    hits = [s for s in by_name.get("cache.memo", []) if s.attrs.get("hit")]
    n_memo = len(by_name.get("cache.memo", []))
    n_ops = len(traced["ops"])
    run_s = sum(j.run_s for j in stats)
    own = self_times(spans)
    values = {
        "session.start_s": total("session.start"),
        "database.open_s": total("database.open"),
        "sources.registry_s": total("sources.registry"),
        "database.query_ms_p50": _p50(durs("database.query"), 1e3),
        "cache.hits": len(hits), "cache.misses": n_memo - len(hits),
        "cache.hit_ratio": len(hits) / n_memo if n_memo else 0.0,
        "cache.entries": traced["cache"]["entries"],
        "cache.hit_us_p50": _p50([s.dur for s in hits], 1e6),
        "column.agg_ms_p50": _p50(durs("column.agg"), 1e3),
        "column.summary_ms_p50": _p50(durs("column.summary"), 1e3),
        "table.transform_ms_p50": _p50(durs("table.transform"), 1e3),
        "iloc.ms_p50": _p50(durs("iloc"), 1e3),
        "queries.build_s": total("queries.build"),
        # Registry-function time outside the operator and streaming spans.
        "queries.build_self_s": sum(own[s.id] for s in by_name.get("queries.build", [])),
        "queries.action_s": total("queries.action"),
        "operators.graph.build_s": total("operators.graph"),
        "operators.graph.jobs": layer_jobs["operators.graph"],
        "streaming.build_s": total("streaming"),
        "streaming.jobs": layer_jobs["streaming"],
        "spark.jobs": len(stats),
        "spark.tasks": sum(j.tasks for j in stats),
        "spark.jobs_per_call": len(stats) / n_ops,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j.cpu_s for j in stats),
        "spark.busy_ratio": run_s / (traced["body_s"] * traced["cores"]),
        "spark.gc_s": sum(j.gc_s for j in stats),
        "spark.shuffle_mb": sum(j.shuffle_bytes for j in stats) / 2**20,
        "spark.unattributed_jobs": sum(1 for sid in owner.values() if sid is None),
        "catalyst.plan_ms": sum(o.get("plan_ms") or 0.0 for o in traced["ops"]),
        "process.peak_rss_mb": traced["peak_rss_mb"],
        "tracing.overhead_ratio": traced["body_s"] / plain["body_s"],
    }
    return values, {"jobs_per_call": per_op}
