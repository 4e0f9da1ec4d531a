"""Seeded inputs for the benchmark: NDJSON tick lines and fixture tables.

Everything here is a pure function of its seed, so the same seed gives
byte-identical inputs. Tick lines follow the OANDA v3 pricing-stream
shape the tick pipeline parses; the tables follow the fixture schemas
the operator queries read (``FIXTURES.md``), at a chosen size.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

INSTRUMENTS = ("EUR_USD", "USD_JPY", "GBP_USD", "AUD_USD", "USD_CHF",
               "USD_CAD", "NZD_USD", "EUR_GBP")
_MID = {"EUR_USD": 1.09, "USD_JPY": 157.3, "GBP_USD": 1.27,
        "AUD_USD": 0.66, "USD_CHF": 0.89, "USD_CAD": 1.36,
        "NZD_USD": 0.61, "EUR_GBP": 0.85}

# Shares of the non-tick line kinds; the rest are price ticks.
HEARTBEAT, BLANK, MALFORMED, UNKNOWN = 0.01, 0.01, 0.01, 0.01


def rfc3339_us(t_us: int) -> str:
    """Epoch microseconds -> ``YYYY-MM-DDTHH:MM:SS.ffffffZ``."""
    d = dt.datetime.fromtimestamp(t_us // 1_000_000, dt.timezone.utc)
    return f"{d:%Y-%m-%dT%H:%M:%S}.{t_us % 1_000_000:06d}Z"


def tick_line(rng: random.Random, t_us: int) -> tuple[str, tuple | None]:
    """One capture line stamped ``t_us``, and what the pipeline must
    publish for it: ``(kind, instrument, closeout_bid, closeout_ask)``
    keyed by the time, or None for a line that is never published."""
    r = rng.random()
    ts = rfc3339_us(t_us)
    if r < HEARTBEAT:
        return (json.dumps({"type": "HEARTBEAT", "time": ts}),
                ("heartbeat", "", "", ""))
    r -= HEARTBEAT
    if r < BLANK:
        return " " * rng.randrange(3), None
    r -= BLANK
    if r < MALFORMED:
        return '{"type":"PRICE","time":"' + ts + '","instrument":', None
    r -= MALFORMED
    if r < UNKNOWN:
        return json.dumps({"type": "MAINTENANCE", "time": ts,
                           "seq": rng.randrange(10**6)}), None
    inst = rng.choice(INSTRUMENTS)
    mid = _MID[inst] * (1 + (rng.random() - 0.5) / 100)
    half = mid * rng.uniform(2e-5, 2e-4)
    bid, ask = f"{mid - half:.5f}", f"{mid + half:.5f}"
    depth = rng.randint(1, 5)
    step = mid * 1e-5

    def ladder(sign: int) -> list:
        return [{"price": f"{mid + sign * (half + k * step):.5f}",
                 "liquidity": 1_000_000 * (k + 1)} for k in range(depth)]

    line = json.dumps({"type": "PRICE", "time": ts, "instrument": inst,
                       "status": "tradeable", "closeoutBid": bid,
                       "closeoutAsk": ask, "bids": ladder(-1),
                       "asks": ladder(1)})
    return line, ("price_tick", inst, bid, ask)


def time_key(t_us: int) -> tuple[int, int]:
    """The (seconds, nanos) a published message carries for ``t_us``."""
    return t_us // 1_000_000, (t_us % 1_000_000) * 1000


def write_capture(path: str, seed: int, n_lines: int,
                  start_us: int = 1_786_000_000_000_000,
                  step_us: int = 997) -> dict:
    """Write an ``n_lines`` NDJSON capture; return the publishable
    messages it holds as ``{(seconds, nanos): expect}``."""
    rng = random.Random(seed)
    expect = {}
    with open(path, "w") as f:
        for i in range(n_lines):
            t_us = start_us + i * step_us
            line, exp = tick_line(rng, t_us)
            f.write(line + "\n")
            if exp is not None:
                expect[time_key(t_us)] = exp
    return expect


# --- fixture tables ---------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
# 25-slot language cycle in the fixture's proportions (en 44%, 12-16% others)
_LANG_CYCLE = ("en",) * 11 + ("zh",) * 4 + ("es",) * 4 + ("de",) * 3 \
    + ("fr",) * 3


def documents_rows(seed: int, n_docs: int) -> list[dict]:
    """Word-salad documents over a 30-word vocabulary. The seed picks the
    words; the shape that sets how much work the text operators do is
    the same for every seed: document i has 10 + (37 i mod 90) words, and
    every 20th document is a near-duplicate (an earlier document with
    ' dup' appended)."""
    rng = random.Random(seed * 7919 + 1)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            text = texts[i - 1 - (i // 20) % 5] + " dup"
        else:
            text = " ".join(rng.choice(_WORDS)
                            for _ in range(10 + (37 * i) % 90))
        texts.append(text)
    return [{"doc_id": i, "text": t, "lang": _LANG_CYCLE[i % 25],
             "source": f"src{i % 20}", "n_chars": len(t)}
            for i, t in enumerate(texts)]


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the fixture tables the query mix reads (lineitem, events,
    documents, embeddings), one parquet file each. ``scale`` 1.0 matches
    the sf0.01 fixture sizes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)

    def n(base: int) -> int:
        return max(10, int(base * scale))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir,
                                                    f"{name}.parquet"))

    def days(lo: str, hi: str, size: int) -> pa.Array:
        a = np.datetime64(lo, "D").astype(np.int64)
        b = np.datetime64(hi, "D").astype(np.int64)
        d = g.integers(a, b + 1, size) * 86_400_000_000
        return pa.array(d, pa.timestamp("us"))

    i32 = pa.int32()
    no = n(15000)   # orders: the key range of l_orderkey
    nl = n(60000)
    qty = g.integers(1, 51, nl).astype(np.float64)
    put("lineitem", {
        "l_orderkey": g.integers(0, no, nl),
        "l_partkey": g.integers(0, n(2000), nl),
        "l_suppkey": g.integers(0, n(100), nl),
        "l_linenumber": pa.array(g.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 3000, nl), 2),
        "l_discount": g.integers(0, 11, nl) / 100,
        "l_tax": g.integers(0, 9, nl) / 100,
        "l_returnflag": g.choice(["A", "N", "R"], nl),
        "l_linestatus": g.choice(["F", "O"], nl),
        "l_shipdate": days("1995-01-02", "2001-11-04", nl)})
    ne = n(10000)
    users = n(150)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.sort(t0 + g.integers(0, span, ne)),
                       pa.timestamp("us")),
        "user_id": g.integers(0, users, ne),
        "event_type": g.choice(["click", "error", "purchase", "signup",
                                "view"], ne),
        "value": np.maximum(0.01, np.round(g.exponential(50, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, ne)]})
    docs = documents_rows(seed, n(500))
    put("documents", {k: [r[k] for r in docs] for k in docs[0]})
    nv = n(500)
    centers = g.normal(0, 1, (10, 64))
    label = np.arange(nv) % 10   # equal clusters for every seed
    vec = centers[label] + g.normal(0, 0.3, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
