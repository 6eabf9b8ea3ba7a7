"""Metric names and the arithmetic that turns spans into metrics.

End-to-end metrics come from the untraced repeats of a run; per-layer
metrics from the traced ones (see run.py). Every per-layer metric is
emitted on every workload: a layer the workload never calls reads 0.
"""

from __future__ import annotations

import math
import statistics

from spans import Span, self_time

E2E = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "edges_per_s": "1/s",
    "cache_mb": "MB",
}

PREGEL_ALGS = ("pagerank", "cc", "labelprop")
PREGEL_KEYS = {
    "s": "s", "supersteps": "count", "first_step_ms": "ms", "step_ms_p50": "ms",
    "step_ms_tail": "ms", "step_tail_pct": "%", "step_samples": "count", "jobs": "count",
    "stages": "count", "tasks": "count", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "fetch_wait_ms": "ms", "busy_frac": "ratio", "active_frac": "ratio", "free_failures": "count",
}
CALLS = {
    "hits": ("s", "jobs", "stages", "tasks", "shuffle_write_mb", "busy_frac"),
    "triangles": ("s", "jobs", "stages", "tasks", "shuffle_write_mb", "busy_frac"),
    "kcore": ("s", "rounds", "jobs", "stages", "tasks", "busy_frac"),
}
_UNIT = {"s": "s", "rounds": "count", "jobs": "count", "stages": "count", "tasks": "count",
         "shuffle_write_mb": "MB", "busy_frac": "ratio"}

PER_LAYER = {
    "session.start_s": "s",
    "graph.edges_s": "s",
    "graph.degrees_s": "s",
    "graph.reversed_s": "s",
    "graph.symmetrized_s": "s",
    "graph.layout_mb": "MB",
    "graph.shuffle_write_mb": "MB",
    **{f"pregel.{a}.{k}": u for a in PREGEL_ALGS for k, u in PREGEL_KEYS.items()},
    "checkpoint.write_ms": "ms",
    "checkpoint.mb": "MB",
    "checkpoint.step_frac": "ratio",
    "ingest.build_s": "s",
    "ingest.edges_s": "s",
    "ingest.edges": "count",
    "ingest.jobs": "count",
    "ingest.stages": "count",
    "ingest.shuffle_write_mb": "MB",
    "ingest.busy_frac": "ratio",
    **{f"{c}.{k}": _UNIT[k] for c, keys in CALLS.items() for k in keys},
    "jvm.gc_ms": "ms",
    "metrics.read_ms": "ms",
    "trace.other_ms": "ms",
    "trace.overhead_s": "s",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; the median when there are fewer than 20 samples."""
    n = len(samples)
    if n == 0:
        return 0.0, 0.0
    pct = max(50.0, math.floor(100.0 * (n - 10) / n)) if n >= 20 else 50.0
    xs = sorted(samples)
    return pct, xs[min(n - 1, math.ceil(pct / 100.0 * n) - 1)]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _busy(run_ms: float, wall_s: float, nproc: int) -> float:
    return run_ms / (wall_s * 1e3 * nproc) if wall_s > 0 else 0.0


def _pregel(spans: list[Span], idx: list[int], cold: list[int], n: int, nproc: int) -> dict:
    """Per-superstep means of one pregel-based call over its traced repeats."""
    per_rep, pooled = [], []
    for i in idx:
        sp = spans[i]
        steps = sp.attrs.get("steps", [])
        k = max(len(steps), 1)
        ms = [m["ms"] for m in steps]
        pooled += ms
        active = [m["active"] / n if m.get("active") is not None else 1.0 for m in steps]
        per_rep.append({
            "s": sp.seconds,
            "supersteps": len(steps),
            "jobs": sp.attrs.get("jobs", 0) / k,
            "stages": sum(m.get("stages", 0) for m in steps) / k,
            "tasks": sum(m.get("tasks", 0) for m in steps) / k,
            "shuffle_read_mb": sum(m.get("shuffle_read_bytes", 0) for m in steps) / k / 1e6,
            "shuffle_write_mb": sum(m.get("shuffle_write_bytes", 0) for m in steps) / k / 1e6,
            "fetch_wait_ms": sum(m.get("shuffle_fetch_wait_ms", 0) for m in steps) / k,
            "busy_frac": _busy(sum(m.get("executor_run_ms", 0) for m in steps), sum(ms) / 1e3, nproc),
            "active_frac": sum(active) / k,
            "free_failures": sp.attrs.get("free_failures", 0),
        })
    out = {key: _median(r[key] for r in per_rep) for key in per_rep[0]} if per_rep else {}
    pct, value = tail(pooled)
    out.update(step_ms_p50=_median(pooled), step_ms_tail=value, step_tail_pct=pct,
               step_samples=len(pooled))
    first = [spans[i].attrs["steps"][0]["ms"] for i in cold if spans[i].attrs.get("steps")]
    out["first_step_ms"] = first[0] if first else 0.0
    return out


def _call(spans: list[Span], idx: list[int], nproc: int) -> dict:
    reps = [
        {
            "s": spans[i].seconds,
            "rounds": spans[i].attrs.get("rounds", 0),
            "jobs": spans[i].attrs.get("jobs", 0),
            "stages": spans[i].attrs.get("stages", 0),
            "tasks": spans[i].attrs.get("tasks", 0),
            "shuffle_write_mb": spans[i].attrs.get("shuffle_write_bytes", 0) / 1e6,
            "busy_frac": _busy(spans[i].attrs.get("executor_run_ms", 0), spans[i].seconds, nproc),
        }
        for i in idx
    ]
    return {k: _median(r[k] for r in reps) for k in reps[0]} if reps else {}


def per_layer(spans: list[Span], warm: list[str], n: int, nproc: int,
              untraced_s: list[float], traced_s: list[float]) -> dict:
    """Per-layer metrics of a traced run.

    ``warm`` names the traced warm repeats; set-up spans come from the
    run's one set-up, and ``first_step_ms`` from the cold job. Values of
    repeated calls are medians over the repeats."""
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s.name, []).append(i)

    def pick(name: str, runs) -> list[int]:
        return [i for i in by_name.get(name, []) if spans[i].run in runs]

    layout_runs = {"setup"} | set(warm)
    out = dict.fromkeys(PER_LAYER, 0.0)

    starts = pick("session.start", {"setup"})
    if starts:
        out["session.start_s"] = spans[starts[0]].seconds
    graph = {g: pick(f"graph.{g}", layout_runs) for g in ("edges", "degrees", "reversed", "symmetrized")}
    for g, idx in graph.items():
        out[f"graph.{g}_s"] = _median(spans[i].seconds for i in idx)
    all_graph = [i for idx in graph.values() for i in idx]
    if all_graph:
        last_graph = [i for i in all_graph if spans[i].run == spans[max(all_graph)].run]
        out["graph.layout_mb"] = sum(spans[i].attrs.get("cached_mb", 0.0) for i in last_graph)
        out["graph.shuffle_write_mb"] = sum(spans[i].attrs.get("shuffle_write_bytes", 0) for i in last_graph) / 1e6

    for alg in PREGEL_ALGS:
        idx = pick(f"pregel.{alg}", warm)
        if idx:
            for k, v in _pregel(spans, idx, pick(f"pregel.{alg}", {"cold"}), n, nproc).items():
                out[f"pregel.{alg}.{k}"] = v

    writes = [w for i in pick("pregel.pagerank", warm) for w in spans[i].attrs.get("checkpoint", [])]
    if writes:
        out["checkpoint.write_ms"] = _median(ms for ms, _ in writes)
        out["checkpoint.mb"] = _median(b for _, b in writes) / 1e6
        step_ms = sum(m["ms"] for i in pick("pregel.pagerank", warm) for m in spans[i].attrs.get("steps", []))
        out["checkpoint.step_frac"] = sum(ms for ms, _ in writes) / step_ms if step_ms else 0.0

    builds, counts = pick("ingest.build", warm), pick("ingest.edges", warm)
    if builds and counts:
        out["ingest.build_s"] = _median(spans[i].seconds for i in builds)
        out["ingest.edges_s"] = _median(spans[i].seconds for i in counts)
        out["ingest.edges"] = spans[counts[-1]].attrs.get("edges", 0)
        pairs = list(zip(builds, counts))
        out["ingest.jobs"] = _median(spans[a].attrs.get("jobs", 0) + spans[b].attrs.get("jobs", 0) for a, b in pairs)
        out["ingest.stages"] = _median(spans[a].attrs.get("stages", 0) + spans[b].attrs.get("stages", 0) for a, b in pairs)
        out["ingest.shuffle_write_mb"] = _median(
            (spans[a].attrs.get("shuffle_write_bytes", 0) + spans[b].attrs.get("shuffle_write_bytes", 0)) / 1e6 for a, b in pairs)
        out["ingest.busy_frac"] = _median(
            _busy(spans[a].attrs.get("executor_run_ms", 0) + spans[b].attrs.get("executor_run_ms", 0),
                  spans[a].seconds + spans[b].seconds, nproc) for a, b in pairs)

    for call, keys in CALLS.items():
        for k, v in _call(spans, pick(call, warm), nproc).items():
            if k in keys:
                out[f"{call}.{k}"] = v

    jobs = pick("job", warm)
    out["jvm.gc_ms"] = _median(spans[i].attrs.get("gc_ms", 0.0) for i in jobs)
    out["metrics.read_ms"] = _median(
        sum(spans[j].seconds for j in pick("metrics.read", {spans[i].run})) * 1e3 for i in jobs)
    out["trace.other_ms"] = _median(self_time(spans, i) * 1e3 for i in jobs)
    out["trace.overhead_s"] = _median(traced_s) - _median(untraced_s)
    return out
