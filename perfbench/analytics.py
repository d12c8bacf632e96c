"""``analytics`` workload: seven of the 17 frozen headline queries
(``bench.py`` ``FIXED_SUBSET``).

Each operation builds one registry query (``QUERIES[name](spark, dir)``,
which includes any driver-eager rounds) and executes it with a noop write;
``clearCache()`` runs between operations. Every pass runs the seven queries
of ``MIX`` in an order shuffled by the seed.

Set-up: generate the tables, start the session, run one checked pass (each
query's collected rows against its DuckDB ``ORACLE`` twin, compared the way
``tools/parity_check.py`` compares them), then warm with noop passes to a
plateau.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from perfbench import inputs, stats
from perfbench.workloads import (
    MAX_WARM_PASSES, Result, end_to_end, noop_median_ms, timed_passes, warm_to_plateau,
)

SF = 0.01

# The workload's mix: one query per capability family of the headline set —
# scan + aggregate, 6-way join, window, pandas-UDF indicator, as-of join,
# exact dedup, vector top-k. All 17 do not fit the benchmark's time budget
# once each run warms them to a plateau.
MIX = (
    "q01_pricing_summary", "q10_local_supplier_volume", "q20_window_change",
    "q23_ema", "q25_asof_view_before_purchase", "q30_exact_dedup",
    "q34_ann_bruteforce",
)

MAX_TIMED_PASSES = 8


def _check_pass(spark, sf_dir: str, order, result: Result) -> None:
    import duckdb

    from soict20221_bigdata_financialplatform_spark.queries import ORACLE, QUERIES
    from tools.parity_check import _norm_rows, _register_views

    con = duckdb.connect()
    try:
        _register_views(con, sf_dir)
        for name in order:
            result.attempted += 1
            try:
                sdf = QUERIES[name](spark, sf_dir)
                got = _norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
                spark.catalog.clearCache()
                if name not in ORACLE:
                    continue
                rel = con.sql(ORACLE[name])
                want = _norm_rows(rel.columns, [tuple(r) for r in rel.fetchall()])
            except Exception as e:  # a failing query is a counted failure
                print(f"check {name}: {type(e).__name__}: {e}", file=sys.stderr)
                result.failed += 1
                continue
            if got != want:
                print(f"check {name}: result differs from its oracle", file=sys.stderr)
                result.failed += 1
    finally:
        con.close()


def run(ctx, process_start: float) -> Result:
    rng = np.random.default_rng(ctx.seed)
    sf_dir = os.path.join(ctx.work, "tables")
    inputs.write_tables(inputs.make_tables(rng, SF), sf_dir)
    # pass orders: the checked pass, the warm-up, the timed window (twice as
    # long in a traced run)
    orders = [
        [MIX[i] for i in rng.permutation(len(MIX))]
        for _ in range(1 + MAX_WARM_PASSES + 2 * MAX_TIMED_PASSES)
    ]
    spark = ctx.start_session()
    from soict20221_bigdata_financialplatform_spark.queries import QUERIES
    from soict20221_bigdata_financialplatform_spark.sources import TABLES, load_table

    tr, counters = ctx.tracer, ctx.counters
    result = Result()
    lat: dict[str, list[float]] = {n: [] for n in MIX}
    per_op: dict[str, list[float]] = {}

    def op(name: str, into: dict[str, list[float]] | None) -> None:
        """One operation: build + noop write, then clearCache. Its latency
        goes ``into`` the given per-kind lists (None: warm-up, not counted);
        with tracing on it also reads the counters."""
        group = f"op{result.attempted}"
        if tr.enabled:
            spark.sparkContext.setJobGroup(group, name)
            gc0 = counters.gc_ms()
        result.attempted += into is not None
        t0 = time.perf_counter()
        try:
            with tr.span("op", name):
                with tr.span("queries", "build"):
                    df = QUERIES[name](spark, sf_dir)
                if tr.enabled:
                    with tr.span("queries", "plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("queries", "exec"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted, and the loop goes on
            print(f"op {name}: {type(e).__name__}: {e}", file=sys.stderr)
            result.failed += into is not None
        else:
            if into is not None:
                into[name].append(time.perf_counter() - t0)
        if tr.enabled:
            per_op.setdefault("gc_ms", []).append(counters.gc_ms() - gc0)
            per_op.setdefault("cached_bytes_left", []).append(counters.cached_bytes())
            for k, v in counters.job_group(group).items():
                per_op.setdefault(k, []).append(v)
        spark.catalog.clearCache()

    _check_pass(spark, sf_dir, orders[0], result)
    tr.enabled = False  # the warm-up and the timed window run without spans
    warm = warm_to_plateau(lambda i: [op(n, None) for n in orders[1 + i]])
    print("warm-up passes (s):", [round(t, 2) for t in warm], file=sys.stderr)
    ctx.phases["warmup_s"] = sum(warm)
    setup_s = time.perf_counter() - process_start
    first = 1 + MAX_WARM_PASSES
    if not ctx.trace:
        seconds = timed_passes(
            lambda i: [op(n, lat) for n in orders[first + i]],
            ctx.seconds, MAX_TIMED_PASSES,
        )
        result.metrics = end_to_end(setup_s, seconds, lat)
        return result

    # Traced run: passes alternate untraced and traced, so both halves see
    # the same point of the warm-up curve; their ratio is the overhead.
    traced: dict[str, list[float]] = {n: [] for n in MIX}

    def alternating(i: int) -> None:
        tr.enabled = i % 2 == 1
        for n in orders[first + i]:
            op(n, traced if tr.enabled else lat)

    timed_passes(alternating, 2 * ctx.seconds, 2 * MAX_TIMED_PASSES)
    tr.enabled = False
    overhead = stats.kind_geomean(traced) / stats.kind_geomean(lat) - 1.0
    scan = {t: noop_median_ms(load_table(spark, sf_dir, t)) for t in TABLES}

    from perfbench.layers import layer_metrics

    result.metrics = layer_metrics(
        ctx, per_op=per_op, scan_ms=scan, overhead_share=overhead, warm_passes=len(warm),
    )
    return result
