"""Input generator for the tradecatspark benchmark.

Everything the program sees is written here, from the seed alone:

* ``inputs/events.parquet`` -- the event stream the engine derives its 1m
  candle and 5m futures-metrics facts from (``Tables.candles`` /
  ``Tables.metrics5m``).  The stream is one fixed base history
  (2024-01-01 .. 2024-01-30, 150 symbols) cut at a minute the seed picks
  among ``CUTS`` candidates within the last three days, so each cut has a
  DuckDB-checked expected output in ``expected.json``.
* ``inputs/{documents,embeddings,lineitem}.parquet`` -- the offline
  corpus slice's inputs (``Tables.documents`` / ``embeddings`` /
  ``lineitem``), one of ``CUTS`` samples, picked together with the cut.
* ``replay/f*.csv`` -- the ``live`` workload's ingest files: one file per
  replayed minute after the cut, in ``Tables.CandleSchema`` column order.
  Each file is one minute's burst: a bar for every symbol, plus a share of
  re-sent bars carrying updated fields.
* ``plan.json`` -- the replay schedule and the API request mix.
"""
import json
import random
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
N_EVENTS = 10_000
N_SYMBOLS = 150
START = datetime(2024, 1, 1, tzinfo=timezone.utc)
DAYS = 30
CUTS = 8
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

# corpus slice sizes (the sf0.01 fixture's documents/embeddings counts)
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64
VEC_LABELS = 10
N_LINEITEM = 30_000
VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch line sort window order data column join small customer "
         "query big stream group filter spark vector").split()
LANGS = {"en": 0.44, "zh": 0.15, "es": 0.15, "de": 0.14, "fr": 0.12}

# Ingest cadence, from the reference collector (SURVEY.md S1/S2): every
# symbol's 1m bar closes within 1-2 s after the minute, and the collector
# writes that burst in one flush on a 3 s window. So each replay file is
# one minute's burst over the whole universe, one file lands per 3 s
# trigger (a minute of production time per trigger), and it lands 1.5 s
# into the trigger window, the middle of the 1-2 s close spread.
TRIGGER_S = 3
LAND_PHASE_S = 1.5
WARM_FILES = 2
# a re-sent bar repeats a bar from RESEND_LAG files earlier, so an original
# and its re-send never meet inside one micro-batch
RESEND_LAG = 2
RESEND_SHARE = 0.1

# Requests per second: about half the API's saturation throughput. That
# was measured with `run.py --workload live --seconds 12 --api-rate 40`,
# which keeps nproc clients busy over the same route mix beside the
# ingest: 14.2-14.7 replies/s on a 4-core host.
REQUESTS_PER_S = 7
# warm-up: two full route cycles, sent faster than the timed rate
WARM_REQUESTS = 12
WARM_REQUEST_INTERVAL_MS = 100
# The reference publishes no per-route traffic mix, so every route gets the
# same share; the routes repeat in a fixed order.
ROUTES = ["ohlc_1m", "ohlc_1h", "ohlc_1d", "metrics", "indicator", "cooldown"]
MART_TABLE = "ATR波幅扫描器"


def cut_minutes():
    """The CUTS candidate cut minutes (epoch seconds), evenly spread over
    the base history's last three days."""
    end = int(START.timestamp()) + DAYS * 86400
    lo = end - 3 * 86400
    step = 3 * 86400 // CUTS
    return [(lo + i * step + step // 2) // 60 * 60 for i in range(CUTS)]


def cut_index(seed):
    return random.Random(seed).randrange(CUTS)


def base_events():
    rng = np.random.default_rng(BASE_SEED)
    t0 = int(START.timestamp()) * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + DAYS * 86400 * 1_000_000, N_EVENTS))
    value = np.maximum(np.round(rng.exponential(49.6, N_EVENTS), 2), 0.01)
    return {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_SYMBOLS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": value,
        "props": np.array(['{"k": %d}' % k
                           for k in rng.integers(0, 100, N_EVENTS)]),
    }


def write_events(path, cut):
    ev = base_events()
    keep = ev["ts"] < (cut + 60) * 1_000_000
    table = pa.table({
        "event_id": pa.array(ev["event_id"][keep], pa.int64()),
        "ts": pa.array(ev["ts"][keep], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"][keep], pa.int64()),
        "event_type": pa.array(ev["event_type"][keep], pa.string()),
        "value": pa.array(ev["value"][keep], pa.float64()),
        "props": pa.array(ev["props"][keep], pa.string()),
    })
    pq.write_table(table, path)
    return table.num_rows


def write_corpus(root, k):
    """The corpus slice's inputs for sample ``k``: documents over a small
    vocabulary, clustered unit embeddings, and TPC-H-shaped line items."""
    rng = np.random.default_rng(BASE_SEED + 1 + k)
    n_tok = rng.integers(8, 90, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in n_tok]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(list(LANGS), N_DOCS,
                                    p=list(LANGS.values())), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), root / "documents.parquet")

    centers = rng.normal(0, 1, (VEC_LABELS, VEC_DIM))
    label = rng.integers(0, VEC_LABELS, N_VECS)
    vecs = centers[label] + rng.normal(0, 0.6, (N_VECS, VEC_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), root / "embeddings.parquet")

    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    day0 = int(datetime(1992, 1, 1, tzinfo=timezone.utc).timestamp())
    pq.write_table(pa.table({
        "l_orderkey": pa.array(np.arange(n) // 4 + 1, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 4 + 1, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2000, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2400, n) * 86400) * 1_000_000,
            pa.timestamp("us")),
    }), root / "lineitem.parquet")


def fmt(x):
    return repr(float(x))


def replay_files(rng, cut, n_files):
    """One CSV per minute after the cut, each a bar for every symbol;
    returns the file manifest."""
    files, originals = [], []
    price = {s: 20 + 60 * rng.random() for s in range(N_SYMBOLS)}
    for i in range(n_files):
        minute = cut + 60 * (i + 1)
        bars = []
        for s in range(N_SYMBOLS):
            o = price[s]
            c = max(0.01, o * (1 + rng.gauss(0, 0.01)))
            h = max(o, c) * (1 + abs(rng.gauss(0, 0.004)))
            lo = min(o, c) * (1 - abs(rng.gauss(0, 0.004)))
            v = round(rng.uniform(1, 500), 4)
            price[s] = c
            bars.append([f"S{s:04d}", minute, round(o, 6), round(h, 6),
                         round(lo, 6), round(c, 6), v, round(v * c, 6),
                         rng.randrange(1, 400), round(v * rng.random(), 4),
                         rng.random() < 0.5])
        originals.append(bars)
        resent = []
        if i >= RESEND_LAG:
            for b in originals[i - RESEND_LAG]:
                if rng.random() < RESEND_SHARE:
                    r = list(b)
                    r[3] = round(r[3] * 1.002, 6)        # higher high
                    r[4] = round(r[4] * 0.998, 6)        # lower low
                    r[5] = round((r[3] + r[4]) / 2, 6)   # new close
                    r[6] = round(r[6] + 10, 4)           # more volume
                    r[8] = r[8] + 5
                    r[10] = True                         # bar closes
                    resent.append(r)
        files.append({"minute": minute, "bars": bars, "resent": resent})
    return files


def write_csv(path, rows):
    head = ("symbol,bucket_ts,open,high,low,close,volume,quote_volume,"
            "trade_count,taker_buy_volume,is_closed\n")
    lines = [",".join([r[0], str(r[1])] + [fmt(x) for x in r[2:8]] +
                      [str(r[8]), fmt(r[9]), "true" if r[10] else "false"])
             for r in rows]
    path.write_text(head + "\n".join(lines) + "\n")


def request(route, sym):
    if route.startswith("ohlc"):
        iv = route.split("_")[1]
        return {"route": route, "path": f"/api/futures/ohlc/history?"
                f"symbol={sym}&interval={iv}&limit=100"}
    if route == "metrics":
        return {"route": route,
                "path": f"/api/futures/metrics?symbol={sym}&limit=100"}
    if route == "indicator":
        # the table name travels percent-encoded, as a client sends it
        enc = "".join(f"%{b:02X}" for b in MART_TABLE.encode("utf-8"))
        return {"route": route, "path": f"/api/indicator/data?table={enc}"
                f"&symbol={sym}&limit=1000"}
    return {"route": route, "path": "/api/signal/cooldown"}


def request_mix(rng, n):
    """``n`` requests: routes in the fixed order, symbols drawn from the
    whole universe."""
    return [request(ROUTES[i % len(ROUTES)], f"S{rng.randrange(N_SYMBOLS):04d}")
            for i in range(n)]


def generate(root, seed, seconds, cut_k=None, api_rate=REQUESTS_PER_S):
    """Write the seed's inputs under ``root``; return the plan. ``cut_k``
    forces the cut and corpus sample (used to refresh the expected
    outputs); ``api_rate`` overrides the request rate (used to measure the
    API's saturation throughput)."""
    root = Path(root)
    cuts = cut_minutes()
    k = cut_index(seed) if cut_k is None else cut_k
    cut = cuts[k]
    (root / "inputs").mkdir(parents=True, exist_ok=True)
    rows = write_events(root / "inputs" / "events.parquet", cut)
    write_corpus(root / "inputs", k)

    rng = random.Random(seed * 7919 + 17)
    # one file per trigger that starts within the timed phase
    n_timed = max(1, -(-seconds // TRIGGER_S))
    files = replay_files(rng, cut, WARM_FILES + n_timed)
    replay = root / "replay"
    replay.mkdir(exist_ok=True)
    manifest = []
    for i, f in enumerate(files):
        name = f"f{i:04d}.csv"
        write_csv(replay / name, f["bars"] + f["resent"])
        manifest.append({"name": name, "minute": f["minute"],
                         "rows": len(f["bars"]) + len(f["resent"]),
                         "resent": len(f["resent"])})
    plan = {
        "seed": seed, "cut_index": k, "cut": cut, "event_rows": rows,
        "mart_table": MART_TABLE,
        "warm_files": WARM_FILES,
        "trigger_ms": TRIGGER_S * 1000,
        "land_phase_ms": int(LAND_PHASE_S * 1000),
        "files": manifest,
        "request_interval_us": int(1e6 / api_rate),
        "warm_request_interval_ms": WARM_REQUEST_INTERVAL_MS,
        "warm_requests": request_mix(rng, WARM_REQUESTS),
        "requests": request_mix(rng, int(api_rate * seconds)),
    }
    (root / "plan.json").write_text(json.dumps(plan, ensure_ascii=False))
    return plan
