"""Workload registry and the pieces every workload shares."""

from __future__ import annotations

import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import stats

# Warm-up rule: run untimed passes of the workload's own operation mix until
# a pass is no more than PLATEAU_TOL faster than the pass before it, after at
# least MIN_WARM_PASSES and at most MAX_WARM_PASSES passes.
PLATEAU_TOL = 0.10
MIN_WARM_PASSES = 2
MAX_WARM_PASSES = 3


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)


def end_to_end(setup_s: float, window_s: float, lat: dict[str, list[float]]) -> dict:
    """The end-to-end metrics from the set-up time, the timed window's
    length and each operation kind's latencies (seconds)."""
    done = {k: v for k, v in lat.items() if v}
    if not done:
        raise RuntimeError("every timed operation failed")
    print(
        "median ms per kind:",
        {k: round(1e3 * stats.median(v), 1) for k, v in done.items()},
        file=sys.stderr,
    )
    return {
        "setup_s": setup_s,
        "ops_per_s": sum(len(v) for v in done.values()) / window_s,
        "op_geomean_ms": 1e3 * stats.kind_geomean(done),
    }


def noop_median_ms(df, reps: int = 3) -> float:
    """Median time of ``reps`` noop writes of ``df``, in ms."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return 1e3 * stats.median(times)


def warm_to_plateau(run_pass: Callable[[int], None]) -> list[float]:
    """Run ``run_pass(i)`` until pass time stops falling; return the pass
    times."""
    times: list[float] = []
    while len(times) < MAX_WARM_PASSES:
        t0 = time.perf_counter()
        run_pass(len(times))
        times.append(time.perf_counter() - t0)
        if len(times) >= MIN_WARM_PASSES and times[-1] > (1 - PLATEAU_TOL) * times[-2]:
            break
    return times


def timed_passes(run_pass: Callable[[int], None], seconds: float, max_passes: int) -> float:
    """Run whole passes until at least ``seconds`` have elapsed (so every
    window holds the same mix); return the window length in seconds."""
    t0 = time.perf_counter()
    i = 0
    while i < max_passes and (i == 0 or time.perf_counter() - t0 < seconds):
        run_pass(i)
        i += 1
    return time.perf_counter() - t0


def _analytics(ctx, process_start):
    from perfbench import analytics

    return analytics.run(ctx, process_start)


def _ingest_serve(ctx, process_start):
    from perfbench import ingest_serve

    return ingest_serve.run(ctx, process_start)


WORKLOADS = {"analytics": _analytics, "ingest_serve": _ingest_serve}
