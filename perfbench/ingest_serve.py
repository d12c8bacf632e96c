"""``ingest_serve`` workload: the reference's live loop, writes beside reads.

Set-up backfills the seeded raw bars (normalize, indicators, partitioned
parquet), mounts ``http_api`` over the stored bars plus seeded tick and news
frames, starts ``streaming.ticks.run_tick_pipeline`` on an empty source
directory and warms the cycle to a plateau.

One cycle is one operation of each kind in turn: a pre-generated tick file is
renamed atomically into the source directory and ``processAllAvailable()``
waits for the pipeline to consume it (the write), then a burst of GETs over
``/OLHC``, ``/realtime``, ``/news`` and ``/info`` (the reads).

Checks, after the timed window: every reply is 200 and equals the rows of
the direct ``api`` call for the same request; the bars the stream wrote equal
a batch ``bar_aggregate(dedup_ticks(decode_ticks(...)))`` over the same files
(every streamed bar, and every batch bar whose window closed under the last
watermark).
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import sys
import time

import numpy as np

from perfbench import inputs, stats
from perfbench.workloads import (
    MAX_WARM_PASSES, Result, end_to_end, noop_median_ms, timed_passes, warm_to_plateau,
)

TICKS_PER_FILE = 1000
# Requests per cycle and route. Measured bands (4 cores): /realtime and
# /OLHC are the fast band, /news and /info the slow one; 10 of 16 requests in
# the fast band put the median inside it, and 6 in the slow band put the
# tail inside that band.
BURST = {"olhc": 6, "realtime": 4, "news": 2, "info": 4}
ROUTES = {"OLHC": "olhc", "realtime": "realtime", "news": "news", "info": "info"}
TIMED_CYCLES_MAX = 20
TAIL_CYCLES = 7  # a traced run's untraced cycles: 112 requests, p90 has 11 beyond
# The stream keeps the session confs it starts with. State partitions: one
# per core. No no-data micro-batches: a batch run only to advance the
# watermark would start after processAllAvailable() returned and overlap the
# next GETs at random; closed bars are emitted by the next file's batch.
# Backfill and serving keep the session's defaults.
STREAM_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}
BAR_COLS = ("bar_start", "bar_end", "symbol", "open", "high", "low", "close",
            "volume", "n_ticks")


def _direct(api, frames, path: str):
    """The ``api`` call an HTTP path maps to (``http_api``'s routing)."""
    bars, ticks, news = frames
    parts = path.split("/")
    if parts[1] == "OLHC":
        return api.olhc(bars, parts[2], int(parts[3]))
    if parts[1] == "realtime":
        return api.realtime(ticks, parts[2])
    if parts[1] == "news":
        return api.news_latest(news)
    return api.info(bars, parts[2])


def _json_rows(df) -> list:
    """Rows as the HTTP shim serializes them, parsed back."""
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return json.loads(json.dumps(rows, default=str))


def _get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _write_tick_files(rng, n: int, staged: str) -> list[str]:
    os.makedirs(staged)
    files = []
    for i, lines in enumerate(inputs.make_tick_files(rng, n, TICKS_PER_FILE)):
        path = os.path.join(staged, f"ticks-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append(path)
    return files


def run(ctx, process_start: float) -> Result:
    rng = np.random.default_rng(ctx.seed)
    raw_rows = inputs.make_raw_bars(rng)
    n_cycles = MAX_WARM_PASSES + 2 * TIMED_CYCLES_MAX
    files = _write_tick_files(rng, n_cycles, os.path.join(ctx.work, "staged"))
    news_rows = inputs.make_news(rng)
    tick_rows = inputs.make_tick_frame_rows(rng)
    pending = iter(zip(files, inputs.make_requests(rng, n_cycles, BURST)))

    spark = ctx.start_session()
    import pandas as pd

    from soict20221_bigdata_financialplatform_spark import api, http_api
    from soict20221_bigdata_financialplatform_spark.streaming import ticks as st

    tr = ctx.tracer
    raw = spark.createDataFrame(pd.DataFrame(raw_rows))
    bars_path = os.path.join(ctx.work, "bars")
    t0 = time.perf_counter()
    api.backfill(raw, bars_path)
    backfill_s = time.perf_counter() - t0
    bars = api.load_bars(spark, bars_path)
    ticks = spark.createDataFrame(pd.DataFrame(tick_rows))
    news = spark.createDataFrame(pd.DataFrame(news_rows))
    frames = (bars, ticks, news)
    srv, port = http_api.serve_background(bars, ticks, news)

    src = os.path.join(ctx.work, "source")
    out = os.path.join(ctx.work, "stream-bars")
    os.makedirs(src)
    defaults = {k: spark.conf.get(k) for k in STREAM_CONF}
    for k, v in STREAM_CONF.items():
        spark.conf.set(k, v)
    query = st.run_tick_pipeline(spark, src, out, os.path.join(ctx.work, "checkpoint"))
    for k, v in defaults.items():
        spark.conf.set(k, v)

    result = Result()
    lat: dict[str, list[float]] = {k: [] for k in ("ingest", *BURST)}
    replies: list[tuple[str, int, bytes]] = []
    api_ms: dict[str, list[float]] = {}
    overhead_ms: list[float] = []
    progress: list[list[dict]] = []  # per traced ingest, its new triggers
    last_batch = -1

    def ingest(staged_file: str, into: dict | None) -> None:
        nonlocal last_batch
        result.attempted += into is not None
        t0 = time.perf_counter()
        with tr.span("op", "ingest"), tr.span("streaming", "ingest"):
            os.rename(staged_file, os.path.join(src, os.path.basename(staged_file)))
            query.processAllAvailable()
        dt_s = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"tick pipeline failed: {query.exception()}")
        if into is not None:
            into["ingest"].append(dt_s)
        if tr.enabled:
            new = [p for p in query.recentProgress if p["batchId"] > last_batch]
            last_batch = max([last_batch] + [p["batchId"] for p in new])
            progress.append(new)

    def serve(path: str, into: dict | None) -> None:
        route = ROUTES[path.split("/")[1]]
        result.attempted += into is not None
        t0 = time.perf_counter()
        try:
            with tr.span("op", route), tr.span("http_api", route):
                status, body = _get(port, path)
        except OSError as e:
            print(f"GET {path}: {type(e).__name__}: {e}", file=sys.stderr)
            result.failed += into is not None
            return
        dt_s = time.perf_counter() - t0
        if into is None:
            return
        into[route].append(dt_s)
        replies.append((path, status, body))
        if tr.enabled:  # the paired direct call
            t1 = time.perf_counter()
            _direct(api, frames, path).collect()
            direct = time.perf_counter() - t1
            api_ms.setdefault("news_latest" if route == "news" else route, []).append(direct)
            overhead_ms.append(1e3 * (dt_s - direct))

    def cycle(into: dict | None) -> None:
        """One ingest, then one burst; latencies go ``into`` the per-kind
        lists (None: warm-up, not counted)."""
        staged_file, burst = next(pending)
        ingest(staged_file, into)
        for path in burst:
            serve(path, into)

    try:
        warm = warm_to_plateau(lambda i: cycle(None))
        ctx.phases["warmup_s"] = sum(warm)
        print("warm-up cycles (s):", [round(t, 2) for t in warm], file=sys.stderr)
        setup_s = time.perf_counter() - process_start
        if not ctx.trace:
            seconds = timed_passes(lambda i: cycle(lat), ctx.seconds, TIMED_CYCLES_MAX)
            result.metrics = end_to_end(setup_s, seconds, lat)
        else:
            # cycles alternate untraced and traced, TAIL_CYCLES of each: both
            # halves see the same point of the warm-up curve, and the
            # untraced half gives the serving and ingest percentiles
            traced: dict[str, list[float]] = {k: [] for k in lat}

            def alternating(i: int) -> None:
                tr.enabled = i % 2 == 1
                cycle(traced if tr.enabled else lat)

            timed_passes(alternating, float("inf"), 2 * TAIL_CYCLES)
            tr.enabled = False
    finally:
        query.stop()
        srv.shutdown()
        srv.server_close()

    expected: dict[str, list] = {}
    for path, status, body in replies:
        result.attempted += 1
        if path not in expected:
            expected[path] = _json_rows(_direct(api, frames, path))
        if status != 200 or json.loads(body) != expected[path]:
            print(f"check GET {path}: status {status}, differs from api", file=sys.stderr)
            result.failed += 1
    _check_bars(spark, st, src, out, query.lastProgress, result)
    if not ctx.trace:
        return result

    from soict20221_bigdata_financialplatform_spark.functions.indicators import (
        with_indicators,
    )
    from soict20221_bigdata_financialplatform_spark.functions.normalize import (
        normalize_bars,
    )

    from perfbench.layers import layer_metrics

    # normalize from the raw strings; indicators from cached normalized bars
    normalized = normalize_bars(raw).cache()
    normalized.count()
    functions_ms = {
        "normalize": noop_median_ms(normalize_bars(raw)),
        "indicators": noop_median_ms(with_indicators(
            normalized, key_cols=("symbol",), order_col="date", value_col="close")),
    }
    normalized.unpersist()
    result.metrics = layer_metrics(
        ctx,
        overhead_share=stats.kind_geomean(traced) / stats.kind_geomean(lat) - 1.0,
        warm_passes=len(warm),
        functions_ms=functions_ms,
        backfill_s=backfill_s,
        api_ms=api_ms,
        http_overhead_ms=overhead_ms,
        serve_ms=[1e3 * x for k, v in lat.items() if k != "ingest" for x in v],
        ingest_ms=[1e3 * x for x in lat["ingest"]],
        progress=progress,
    )
    return result


def _check_bars(spark, st, src: str, out: str, last_progress, result: Result) -> None:
    """Streamed bars against the batch twin over the same files. Each
    compared bar is one attempt; each missing, differing or repeated bar one
    failure."""
    batch = st.bar_aggregate(
        st.dedup_ticks(st.decode_ticks(spark.read.text(src))), watermark=None
    )
    want = {tuple(r) for r in batch.select(*BAR_COLS).collect()}
    got = [tuple(r) for r in spark.read.parquet(out).select(*BAR_COLS).collect()]
    wm = (last_progress or {}).get("eventTime", {}).get("watermark")
    closed_at = (
        dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ") if wm else dt.datetime.min
    )
    must = {k for k in want if k[1] <= closed_at}  # k[1]: bar_end
    compared = must | set(got)
    bad = sum(k not in want for k in got) + len(must - set(got)) + len(got) - len(set(got))
    result.attempted += len(compared)
    result.failed += bad
    if bad:
        print(f"check bars: {bad} of {len(compared)} differ from the batch twin",
              file=sys.stderr)
