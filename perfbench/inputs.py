"""Seeded input generation for the benchmark.

Everything a workload reads is made here, before any timing, from one
``numpy.random.Generator`` seeded by ``--seed``: the relational tables the
query registry scans, the messy raw daily bars the backfill normalizes, the
tick files the stream ingests, the news frame and the request sequence. The
same seed gives byte-identical files (``perfbench/test_perfbench.py`` pins
this), so two commits measured with one seed see the same inputs.

The tables follow the schemas of the engine's TPC-H-like test data (see
``TESTDATA.md``): same columns, types, key ranges and value distributions,
scaled by ``sf`` the same way.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = ("AAA", "BID", "CTG", "FPT", "HPG", "MBB", "MSN", "VCB", "VIC", "VNM")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small", "tiny")
_PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // _US_PER_DAY, _epoch_us(*hi) // _US_PER_DAY
    return pa.array(rng.integers(a, b + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten scan tables at scale ``sf`` (sf=0.1: 600k lineitem rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_line).tolist(),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 101, n_docs)
    ]
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        texts[i] = texts[(i + 1) % n_docs]  # ~0.2% exact duplicate documents
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15)).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs)),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# ingest_serve inputs: the reference's scrape shapes (FIXTURES.md §1, §4, §5)
# ---------------------------------------------------------------------------

RAW_BAR_DAYS = 2382  # rows per symbol in the reference's data_olhc/*.json


def _messy(x, fmt: str, pad: int) -> str:
    return fmt.format(x) + (" ", "\u00a0", "")[pad]


def make_raw_bars(rng: np.random.Generator) -> list[dict]:
    """10 symbols x 2,382 weekdays of string-typed daily OHLC: dd/MM/yyyy
    dates, comma thousands separators, trailing spaces and NBSPs, about 1%
    duplicated rows (FIXTURES.md §1)."""
    start = dt.date(2013, 7, 18)
    days: list[dt.date] = []
    d = start
    while len(days) < RAW_BAR_DAYS:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    rows = []
    for sym in SYMBOLS:
        close = 20.0 + 80.0 * rng.random()
        steps = rng.normal(0.0, 0.015, RAW_BAR_DAYS)
        pads = rng.integers(0, 3, (RAW_BAR_DAYS, 6))
        spread = rng.uniform(0.0, 0.02, (RAW_BAR_DAYS, 3))
        vol = rng.integers(10, 5000, RAW_BAR_DAYS) * 100
        for i, day in enumerate(days):
            close = max(1.0, close * (1.0 + steps[i]))
            opn = close * (1.0 + spread[i, 0] - 0.01)
            hi = max(opn, close) * (1.0 + spread[i, 1])
            lo = min(opn, close) * (1.0 - spread[i, 2])
            p = pads[i]
            rows.append({
                "symbol": sym,
                "date": day.strftime("%d/%m/%Y"),
                "open": _messy(opn, "{:,.2f}", p[0]),
                "high": _messy(hi, "{:,.2f}", p[1]),
                "low": _messy(lo, "{:,.2f}", p[2]),
                "close": _messy(close, "{:,.2f}", p[3]),
                "volume": _messy(int(vol[i]), "{:,d}", p[4]),
                "value": _messy(int(vol[i] * close * 1000), "{:,d}", p[5]),
            })
    for i in rng.choice(len(rows), len(rows) // 100, replace=False):
        rows.append(dict(rows[i]))
    return rows


TICK_SECONDS = 10  # per-symbol tick cadence


def make_tick_files(
    rng: np.random.Generator, n_files: int, ticks_per_file: int
) -> list[list[str]]:
    """Producer-shaped JSON tick messages (FIXTURES.md §4), cut into files in
    arrival order. Each file covers the next slice of trading time for all
    symbols. About 3% of ticks arrive late, by 10 s to 9 min (inside the
    pipeline's 10-minute watermark, so none is dropped), and about 1% are
    re-sent duplicates."""
    per_sym = max(1, ticks_per_file // len(SYMBOLS))
    day0 = dt.datetime(2023, 2, 6, 9, 30)
    files = []
    price = {s: 20.0 + 80.0 * rng.random() for s in SYMBOLS}
    volume = {s: 0 for s in SYMBOLS}
    for f in range(n_files):
        msgs: list[tuple[float, str]] = []
        for s in SYMBOLS:
            for k in range(per_sym):
                slot = f * per_sym + k  # also the tick's unique microsecond
                t_arrive = slot * TICK_SECONDS + float(rng.integers(0, TICK_SECONDS))
                # late ticks keep their (earlier) event time but arrive now
                late = rng.random() < 0.03
                t_event = t_arrive - float(rng.integers(10, 540)) if late else t_arrive
                price[s] = max(1.0, price[s] * (1.0 + rng.normal(0.0, 0.002)))
                volume[s] += int(rng.integers(1, 50)) * 100
                px = price[s]
                when = day0 + dt.timedelta(seconds=t_event, microseconds=slot % 1_000_000)
                msg = json.dumps({
                    "symbol": s,
                    "time": when.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "open": f"{px:,.2f}", "high": f"{px * 1.001:,.2f}",
                    "low": f"{px * 0.999:,.2f}", "close": f"{px:,.2f} ",
                    "volume": f"{volume[s]:,}",
                    "previous_close": f"{px:,.2f}", "ref": f"{px:,.2f}",
                    "ceil": f"{px * 1.07:,.2f}", "floor": f"{px * 0.93:,.2f}",
                })
                msgs.append((t_arrive, msg))
                if rng.random() < 0.01:
                    msgs.append((t_arrive + 1.0, msg))  # at-least-once re-send
        msgs.sort(key=lambda m: m[0])
        files.append([m for _, m in msgs])
    return files


def make_news(rng: np.random.Generator, n: int = 400) -> list[dict]:
    """Headlines with about 5% duplicate titles at a different time
    (FIXTURES.md §5)."""
    base = dt.datetime(2023, 2, 1)
    rows = []
    for i in range(n):
        rows.append({
            "time": base + dt.timedelta(minutes=int(i * 7 + rng.integers(0, 5))),
            "title": f"headline {i} " + " ".join(rng.choice(_WORDS, 6)),
            "source": f"https://news.example/{i}",
            "img": f"https://img.example/{i}.jpg",
        })
    for i in rng.choice(n, n // 20, replace=False):
        dup = dict(rows[i])
        dup["time"] = dup["time"] + dt.timedelta(minutes=int(rng.integers(1, 600)))
        rows.append(dup)
    return rows


def make_tick_frame_rows(rng: np.random.Generator, per_symbol: int = 200) -> list[dict]:
    """Static tick rows served by ``/realtime`` (already decoded)."""
    base = dt.datetime(2023, 2, 7, 9, 30)
    rows = []
    for s in SYMBOLS:
        px = 20.0 + 80.0 * rng.random()
        for k in range(per_symbol):
            px = round(max(1.0, px * (1.0 + rng.normal(0.0, 0.002))), 2)
            rows.append({
                "symbol": s, "time": base + dt.timedelta(seconds=10 * k),
                "open": px, "high": px, "low": px, "close": px,
                "volume": 100 * (k + 1),
            })
    return rows


OLHC_DAYS = (5, 20, 60)


def make_requests(
    rng: np.random.Generator, n_cycles: int, burst: dict[str, int]
) -> list[list[str]]:
    """One GET burst per ingest cycle. Every burst holds the same number of
    requests per route (``burst``), so every cycle is the same mix; the seed
    picks symbols, day counts and the order inside the burst."""
    cycles = []
    for _ in range(n_cycles):
        paths = []
        for route, count in burst.items():
            for _ in range(count):
                sym = SYMBOLS[int(rng.integers(0, len(SYMBOLS)))]
                if route == "olhc":
                    paths.append(f"/OLHC/{sym}/{OLHC_DAYS[int(rng.integers(0, 3))]}")
                elif route == "realtime":
                    paths.append(f"/realtime/{sym}")
                elif route == "news":
                    paths.append("/news")
                else:
                    paths.append(f"/info/{sym}")
        cycles.append([paths[i] for i in rng.permutation(len(paths))])
    return cycles
