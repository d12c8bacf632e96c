"""The benchmark's own tests (no Spark session needed).

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import contextlib
import filecmp
import io
import json
import math
import os

import numpy as np
import pytest

from perfbench import inputs, layers, run, stats, workloads
from perfbench.spans import Tracer


def _spec() -> dict:
    return run.load_spec()


# --- seeded inputs ----------------------------------------------------------


def _generate_all(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    inputs.write_tables(inputs.make_tables(rng, 0.001), os.path.join(out, "tables"))
    blobs = {
        "raw_bars": inputs.make_raw_bars(rng),
        "ticks": inputs.make_tick_files(rng, 3, 200),
        "news": inputs.make_news(rng),
        "tick_frame": inputs.make_tick_frame_rows(rng, 20),
        "requests": inputs.make_requests(rng, 3, {"olhc": 2, "info": 1}),
    }
    for name, blob in blobs.items():
        with open(os.path.join(out, f"{name}.json"), "w") as f:
            json.dump(blob, f, default=str)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    _generate_all(7, str(a))
    _generate_all(7, str(b))
    _generate_all(8, str(c))
    names = sorted(
        os.path.relpath(os.path.join(d, f), a)
        for d, _, fs in os.walk(a) for f in fs
    )
    assert len(names) == 15
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])
    match, mismatch, errors = filecmp.cmpfiles(a, c, names, shallow=False)
    assert sorted(match) == ["tables/nation.parquet", "tables/region.parquet"]


def test_tick_files_hold_late_and_duplicate_ticks():
    files = inputs.make_tick_files(np.random.default_rng(3), 4, 1000)
    msgs = [json.loads(m) for f in files for m in f]
    keys = [(m["symbol"], m["time"]) for m in msgs]
    dup_share = 1 - len(set(keys)) / len(keys)
    assert 0.003 < dup_share < 0.03
    late = 0
    newest: dict[str, str] = {}
    for m in msgs:
        if m["time"] < newest.get(m["symbol"], ""):
            late += 1
        newest[m["symbol"]] = max(newest.get(m["symbol"], ""), m["time"])
    assert 0.01 < late / len(msgs) < 0.05


def test_request_bursts_hold_the_same_mix():
    burst = {"olhc": 3, "realtime": 2, "news": 1, "info": 2}
    for cycle in inputs.make_requests(np.random.default_rng(1), 5, burst):
        counts = {
            r: sum(p.split("/")[1].lower().startswith(r[:4]) for p in cycle)
            for r in burst
        }
        assert counts == burst


# --- statistics -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, rank",
    [(10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0), (200, 95.0),
     (100, 90.0), (99, 75.0), (40, 75.0), (39, None), (1, None)],
)
def test_tail_rank_keeps_ten_samples_beyond(n, rank):
    assert stats.tail_rank(n) == rank
    if rank is not None:
        assert n - math.ceil(round(rank / 100 * n, 9)) >= stats.MIN_BEYOND


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile([5.0], 99) == 5.0
    assert stats.percentile([3, 1, 2], 100) == 3


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([4.0]) == 4.0
    assert stats.kind_geomean({"a": [1.0, 9.0, 2.0], "b": [8.0]}) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


# --- warm-up and windows ----------------------------------------------------


def _fake_passes(monkeypatch, seconds):
    """perf_counter reads as if pass i took seconds[i]."""
    ends = np.cumsum(seconds)
    clock = iter([t for end, s in zip(ends, seconds) for t in (end - s, end)])
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: float(next(clock)))


def test_warm_up_stops_when_pass_time_stops_falling(monkeypatch):
    lo, hi = workloads.MIN_WARM_PASSES, workloads.MAX_WARM_PASSES
    # the third pass is the first within 10% of the one before it
    _fake_passes(monkeypatch, [25.0, 11.0, 10.5, 10.4, 10.3, 10.2])
    assert len(workloads.warm_to_plateau(lambda i: None)) == max(lo, min(hi, 3))
    _fake_passes(monkeypatch, [9.0, 10.0, 9.5, 9.0, 9.2, 9.1])  # flat
    assert len(workloads.warm_to_plateau(lambda i: None)) == lo
    _fake_passes(monkeypatch, [40.0 / 2**i for i in range(8)])  # always falling
    assert workloads.warm_to_plateau(lambda i: None) == pytest.approx(
        [40.0 / 2**i for i in range(hi)]
    )


def test_timed_window_is_whole_passes():
    calls = []
    window = workloads.timed_passes(calls.append, seconds=0.0, max_passes=5)
    assert calls == [0] and window >= 0.0


# --- reported metric names --------------------------------------------------


def _printed(monkeypatch, result: workloads.Result, trace: int) -> dict:
    monkeypatch.setattr(workloads, "WORKLOADS", {"fake": lambda ctx, t0: result})
    monkeypatch.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    monkeypatch.setenv("TMPDIR", os.environ.get("TMPDIR", "/tmp"))  # main() sets it
    monkeypatch.setenv("TZ", os.environ.get("TZ", "UTC"))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(["--workload", "fake", "--seed", "1", "--seconds", "1",
                         "--trace", str(trace)]) == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


def test_printed_end_to_end_names_equal_the_spec(monkeypatch):
    lat = {"q1": [0.2, 0.3], "q2": [0.5]}
    res = workloads.Result(attempted=3, metrics=workloads.end_to_end(4.0, 1.5, lat))
    line = _printed(monkeypatch, res, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == [m["name"] for m in _spec()["end_to_end"]]
    assert line["metrics"]["ops_per_s"]["value"] == pytest.approx(2.0)
    assert line["correct"] is True


def test_printed_per_layer_names_equal_the_spec(monkeypatch):
    class Counters:
        def peak_rss_mb(self):
            return 1.0

    class Ctx:
        tracer = Tracer(True)
        phases = {"start_s": 1.0, "warmup_s": 2.0}
        counters = Counters()

    with Ctx.tracer.span("op", "q1"), Ctx.tracer.span("queries", "build"):
        pass
    metrics = layers.layer_metrics(Ctx(), overhead_share=0.01, warm_passes=2)
    line = _printed(monkeypatch, workloads.Result(attempted=1, metrics=metrics), 1)
    assert list(line["metrics"]) == [m["name"] for m in _spec()["per_layer"]]


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_analytics_mix_is_drawn_from_the_frozen_headline_set():
    bench = pytest.importorskip("bench")
    from perfbench.analytics import MIX

    assert len(set(MIX)) == len(MIX)
    assert set(MIX) <= set(bench.FIXED_SUBSET)
