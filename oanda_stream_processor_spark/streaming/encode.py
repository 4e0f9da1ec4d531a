"""Executor-side protobuf encoding of the routed stream
(T1/T2 parity: /root/reference/src/main.rs:153-180 model→proto mapping
and the oneof envelope wrap at main.rs:89-91,111-113).

``encode_batch`` reads an Arrow batch as leaf columns (no pandas, no
per-row dicts) and drops Unknown rows itself (main.rs:117-119), so no
filter on the derived ``message_type`` reaches the plan (functions/
ticks.py). It runs in mapInArrow tasks, or on the driver (sinks.py).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..proto import wire

ENCODED_SCHEMA = "message_type string, payload binary"


def _ladder(col: pa.ListArray) -> tuple[list, list, list]:
    """(offsets, prices, liquidities); a null level reads (None, None)."""
    prices, liquidity = col.values.flatten()
    return col.offsets.to_pylist(), prices.to_pylist(), liquidity.to_pylist()


def encode_batch(batch: pa.RecordBatch) -> tuple[list, list]:
    """(message_type, envelope bytes) of each publishable row of a
    ``prepare``d batch, in row order."""
    (ask_off, ask_px, ask_liq), (bid_off, bid_px, bid_liq) = (
        _ladder(batch.column(i)) for i in (1, 2))
    kinds, c_ask, c_bid, instrument, status, hb_type, secs, nanos = (
        batch.column(i).to_pylist() for i in (0, *range(3, 10)))
    out_kinds, payloads = [], []
    for i, kind in enumerate(kinds):
        ns = nanos[i] or 0
        if kind == "price_tick":
            a0, a1, b0, b1 = ask_off[i], ask_off[i + 1], bid_off[i], bid_off[i + 1]
            body = wire.encode_price_tick(
                zip(ask_px[a0:a1], ask_liq[a0:a1]),
                zip(bid_px[b0:b1], bid_liq[b0:b1]),
                c_ask[i], c_bid[i], instrument[i], status[i], secs[i], ns)
        elif kind == "heartbeat":
            body = wire.encode_heartbeat(secs[i], ns, hb_type[i])
        else:  # Unknown is retained in-engine but never published
            continue
        out_kinds.append(kind)
        payloads.append(wire.encode_stream_message(kind, body))
    return out_kinds, payloads


def prepare(df: DataFrame) -> DataFrame:
    """The kernel's input columns, in ``encode_batch``'s order.

    Timestamp split mirrors parse_timestamp (main.rs:140-151): seconds +
    nanos. Spark timestamps are μs, so nanos is μs*1000 (the documented
    ns→μs truncation, SURVEY.md §7); ``pmod`` keeps nanos in [0, 1e9)
    before 1970, as a Timestamp requires."""
    tick, micros = F.col("price_tick"), F.unix_micros("event_ts")
    return df.select(
        "message_type",
        *[tick[f].alias(f) for f in ("asks", "bids", "closeoutAsk",
                                     "closeoutBid", "instrument", "status")],
        F.col("heartbeat")["type"].alias("type"),
        F.floor(micros / 1_000_000).cast("long").alias("ts_seconds"),
        (F.pmod(micros, F.lit(1_000_000)) * 1000).cast("int").alias("ts_nanos"))


def encode_stream(df: DataFrame) -> DataFrame:
    """Routed+derived frame -> (message_type, payload bytes), publishable
    rows only."""

    def kernel(batches):
        for batch in batches:
            kinds, payloads = encode_batch(batch)
            yield pa.RecordBatch.from_arrays(
                [pa.array(kinds, pa.string()), pa.array(payloads, pa.binary())],
                ["message_type", "payload"])

    return prepare(df).mapInArrow(kernel, ENCODED_SCHEMA)
