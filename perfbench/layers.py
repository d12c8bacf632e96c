"""Per-layer metrics of a traced run.

Every workload reports the same names (``per_layer`` in ``BENCHMARK.json``);
a layer the workload does not exercise reads 0. Times are medians over the
operations (for queries: the geometric mean over the query kinds of each
kind's median); counts are means per operation.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from soict20221_bigdata_financialplatform_spark.sources import TABLES

from perfbench import stats

STREAM_DURATIONS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}
API_CALLS = ("olhc", "info", "realtime", "news_latest")
SELF_LAYERS = ("queries", "http_api", "streaming")


def _median_ms(xs) -> float:
    xs = list(xs)
    return 1e3 * stats.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _query_geomean_ms(tracer, span_name: str) -> float:
    per_kind: dict[str, list[float]] = defaultdict(list)
    for s in tracer.spans:
        if s.layer == "queries" and s.name == span_name and s.parent is not None:
            per_kind[tracer.spans[s.parent].name].append(s.seconds)
    return 1e3 * stats.kind_geomean(per_kind) if per_kind else 0.0


def layer_metrics(
    ctx,
    *,
    per_op: dict[str, list[float]] | None = None,
    scan_ms: dict[str, float] | None = None,
    overhead_share: float,
    warm_passes: int,
    functions_ms: dict[str, float] | None = None,
    backfill_s: float = 0.0,
    api_ms: dict[str, list[float]] | None = None,
    http_overhead_ms: list[float] | None = None,
    serve_ms: list[float] | None = None,
    ingest_ms: list[float] | None = None,
    progress: list[list[dict]] | None = None,
) -> dict[str, float]:
    tr = ctx.tracer
    per_op = per_op or {}
    m: dict[str, float] = {
        "session.start_s": ctx.phases["start_s"],
        "session.warmup_s": ctx.phases["warmup_s"],
        "session.warm_passes": float(warm_passes),
        "session.gc_ms": _mean(per_op.get("gc_ms", ())),
        "session.peak_rss_mb": ctx.counters.peak_rss_mb(),
        "queries.build_ms": _query_geomean_ms(tr, "build"),
        "queries.plan_ms": _query_geomean_ms(tr, "plan"),
        "queries.exec_ms": _query_geomean_ms(tr, "exec"),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "cached_bytes_left"):
        m[f"queries.{k}"] = _mean(per_op.get(k, ()))
    for t in TABLES:
        m[f"sources.scan_ms.{t}"] = (scan_ms or {}).get(t, 0.0)
    functions_ms = functions_ms or {}
    m["functions.normalize_ms"] = functions_ms.get("normalize", 0.0)
    m["functions.indicators_ms"] = functions_ms.get("indicators", 0.0)
    m["api.backfill_s"] = backfill_s
    for call in API_CALLS:
        m[f"api.{call}_ms"] = _median_ms((api_ms or {}).get(call, ()))
    m["http_api.overhead_ms"] = (
        stats.median(http_overhead_ms) if http_overhead_ms else 0.0
    )
    serve_ms = serve_ms or []
    rank = stats.tail_rank(len(serve_ms)) if serve_ms else None
    m["http_api.requests"] = float(len(serve_ms))
    m["http_api.serve_p50_ms"] = stats.median(serve_ms) if serve_ms else 0.0
    m["http_api.serve_tail_pct"] = rank or 0.0
    m["http_api.serve_tail_ms"] = stats.percentile(serve_ms, rank) if rank else 0.0
    m["streaming.ingest_p50_ms"] = stats.median(ingest_ms) if ingest_ms else 0.0
    progress = progress or []
    for name, key in STREAM_DURATIONS.items():
        m[f"streaming.{name}"] = (
            stats.median(sum(p["durationMs"].get(key, 0) for p in ps) for ps in progress)
            if progress else 0.0
        )
    m["streaming.triggers_per_ingest"] = _mean(len(ps) for ps in progress)
    last_state = next(
        (p["stateOperators"] for ps in reversed(progress) for p in reversed(ps)), []
    )
    m["streaming.state_rows"] = float(sum(o["numRowsTotal"] for o in last_state))
    m["streaming.state_bytes"] = float(sum(o["memoryUsedBytes"] for o in last_state))
    m["streaming.rows_dropped_by_watermark"] = float(sum(
        o.get("numRowsDroppedByWatermark", 0)
        for ps in progress for p in ps for o in p["stateOperators"]
    ))
    self_s = tr.op_self_times()
    total = sum(sum(v) for v in self_s.values()) or 1.0
    for layer in SELF_LAYERS + ("unattributed",):
        m[f"self_share.{layer}"] = sum(self_s.get(layer, ())) / total
    m["op.unattributed_ms"] = _median_ms(self_s.get("unattributed", ()))
    m["trace.overhead_share"] = overhead_share
    return m
