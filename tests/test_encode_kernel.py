"""The columnar tick encoder against the per-message proto3 encoders.

``encode_batch`` builds every frame of an Arrow batch at once; the
functions of ``proto/wire.py`` encode one message per call. Over
generated batches in ``prepare``'s schema the two must give the same
frames, row for row, with the same ``message_type`` column. No Spark.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from oanda_stream_processor_spark.proto import wire
from oanda_stream_processor_spark.proto import wire_decode as wd
from oanda_stream_processor_spark.streaming.encode import encode_batch

LEVEL = pa.struct([("price", pa.string()), ("liquidity", pa.int64())])
PREPARED = pa.schema([
    ("message_type", pa.string()),
    ("asks", pa.list_(LEVEL)), ("bids", pa.list_(LEVEL)),
    ("closeoutAsk", pa.string()), ("closeoutBid", pa.string()),
    ("instrument", pa.string()), ("status", pa.string()),
    ("type", pa.string()), ("ts_micros", pa.int64())])

I64_MAX = 2**63 - 1
# a varint grows a byte at each power of 2^7; negatives take 10 bytes
EDGES = [0, 1, 127, 128, 16383, 16384, 2**21, 2**56 - 1, 2**56, I64_MAX,
         -1, -128, -(2**63)]


def reference(batch: pa.RecordBatch) -> list[tuple[str, bytes]]:
    """(message_type, frame) per publishable row, one wire call chain
    per row."""
    out = []
    for r in batch.to_pylist():
        kind, micros = r["message_type"], r["ts_micros"]
        secs = nanos = None
        if micros is not None:
            secs, rest = divmod(micros, 1_000_000)
            nanos = rest * 1000

        def levels(ladder):
            return [(lv["price"], lv["liquidity"]) if lv else (None, None)
                    for lv in ladder or ()]

        if kind == "price_tick":
            body = wire.encode_price_tick(
                levels(r["asks"]), levels(r["bids"]), r["closeoutAsk"],
                r["closeoutBid"], r["instrument"], r["status"], secs, nanos)
        elif kind == "heartbeat":
            body = wire.encode_heartbeat(secs, nanos, r["type"])
        else:
            continue
        out.append((kind, wire.encode_stream_message(kind, body)))
    return out


def kernel(batch: pa.RecordBatch) -> list[tuple[str, bytes]]:
    got = encode_batch(batch)
    assert got.schema.names == ["message_type", "payload"]
    assert got.column(1).type == pa.binary()
    return list(zip(*(got.column(i).to_pylist() for i in (0, 1))))


def batch_of(rows: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(rows, schema=PREPARED)


def assert_kernel_matches(batch: pa.RecordBatch) -> None:
    assert kernel(batch) == reference(batch)


_text = st.one_of(
    st.none(), st.text(max_size=6),
    st.sampled_from(["", "1.0945", "EUR_€_日本", "\U0001F4B6\U00010348",
                     "a" * 127, "a" * 128, "é" * 64, "x" * 300]))
_int = st.one_of(st.none(), st.sampled_from(EDGES),
                 st.integers(-(2**63), I64_MAX))
_level = st.one_of(st.none(), st.fixed_dictionaries(
    {"price": _text, "liquidity": _int}))
_ladder = st.one_of(st.none(), st.lists(_level, max_size=4))
_micros = st.one_of(
    st.none(),
    st.builds(lambda s, us: s * 1_000_000 + us,
              st.sampled_from([0, 1, 127, 128, 16383, 16384, -1, -129,
                               -14_182_940, 1_786_612_501]),
              st.sampled_from([0, 1, 999_999, 500_000])),
    st.sampled_from([0, I64_MAX, -(2**63), 2**53, 2**53 + 1]),
    st.integers(-(2**63), I64_MAX))
_row = st.fixed_dictionaries({
    "message_type": st.sampled_from(
        ["price_tick", "price_tick", "heartbeat", "unknown", None]),
    "asks": _ladder, "bids": _ladder, "closeoutAsk": _text,
    "closeoutBid": _text, "instrument": _text, "status": _text,
    "type": _text, "ts_micros": _micros})


@settings(max_examples=300, deadline=None)
@given(st.lists(_row, max_size=12))
def test_kernel_matches_wire_on_generated_batches(rows):
    assert_kernel_matches(batch_of(rows))


@settings(max_examples=100, deadline=None)
@given(st.lists(_row, min_size=1, max_size=24), st.data())
def test_kernel_matches_wire_on_sliced_batches(rows, data):
    # a slice's Arrow offsets do not start at 0, in the list columns,
    # their struct children and the strings alike
    start = data.draw(st.integers(0, len(rows)))
    length = data.draw(st.integers(0, len(rows) - start))
    assert_kernel_matches(batch_of(rows).slice(start, length))


TICK = {"message_type": "price_tick",
        "asks": [{"price": "1.1", "liquidity": 7}],
        "bids": [{"price": "1.0", "liquidity": 5}],
        "closeoutAsk": "1.1", "closeoutBid": "1.0", "instrument": "EUR_USD",
        "status": "tradeable", "type": None,
        "ts_micros": 1_786_612_501_500_000}
HEARTBEAT = {"message_type": "heartbeat", "asks": None, "bids": None,
             "closeoutAsk": None, "closeoutBid": None, "instrument": None,
             "status": None, "type": "HEARTBEAT", "ts_micros": 0}
UNKNOWN = {**TICK, "message_type": "unknown"}


def test_kernel_edge_batches():
    cases = [
        [], [UNKNOWN], [UNKNOWN, {**HEARTBEAT, "message_type": None}],
        [UNKNOWN, TICK, UNKNOWN, HEARTBEAT, UNKNOWN],
        [{**TICK, "asks": [], "bids": None}],
        [{**TICK, "asks": [None, {"price": None, "liquidity": None}]}],
        [{**TICK, "bids": [{"price": "", "liquidity": -3}]}],
        [{**TICK, "ts_micros": None}, {**HEARTBEAT, "ts_micros": None}],
        [{**TICK, "ts_micros": -1}, {**HEARTBEAT, "type": ""}],
        # a tick's `type` and a heartbeat's tick fields are not encoded
        [{**TICK, "type": "X"}, {**TICK, **HEARTBEAT, "asks": TICK["asks"]}],
        [{**TICK, "instrument": "i" * n} for n in (126, 127, 128, 16384)],
        # envelope and level bodies of 126-131 bytes: the length prefix
        # goes from 1 byte to 2 at 128
        [{**HEARTBEAT, "type": "t" * n} for n in range(120, 127)],
        [{**TICK, "bids": [{"price": "p" * n, "liquidity": 1}]}
         for n in range(122, 128)],
        [{**TICK, "asks": [{"price": "p" * n, "liquidity": q}]}
         for n, q in ((120, 2**56), (128, I64_MAX), (16383, -(2**63)))],
    ]
    for rows in cases:
        assert_kernel_matches(batch_of(rows))
    assert kernel(batch_of([UNKNOWN] * 3)) == []
    # Spark sends 64-bit offsets under arrow.useLargeVarTypes
    large = pa.schema([(f.name, pa.large_list(LEVEL) if f.name in (
        "asks", "bids") else pa.large_string() if f.type == pa.string()
        else f.type) for f in PREPARED])
    assert_kernel_matches(batch_of(cases[3] + cases[-1]).cast(large))


def test_kernel_skips_what_a_null_slot_spans():
    # Arrow lets a null list or string slot span values; they are not
    # the row's
    levels = pa.array([{"price": "9", "liquidity": 9}] * 2, LEVEL)
    asks = pa.ListArray.from_arrays(pa.array([0, 1, 2], pa.int32()), levels,
                                    mask=pa.array([True, False]))
    status = pa.Array.from_buffers(
        pa.string(), 2, [pa.array([False, True]).buffers()[1],
                         pa.array([0, 3, 4], pa.int32()).buffers()[1],
                         pa.py_buffer(b"badX")])
    base = batch_of([TICK, TICK])
    cols = dict(zip(base.schema.names, base.columns))
    batch = pa.RecordBatch.from_arrays(
        [*{**cols, "asks": asks, "status": status}.values()],
        schema=PREPARED)
    assert batch.column(1).to_pylist()[0] is None
    assert batch.column(6).to_pylist() == [None, "X"]
    assert_kernel_matches(batch)


def test_kernel_on_a_slice_of_a_large_batch():
    rows = [TICK, HEARTBEAT, UNKNOWN, {**TICK, "instrument": "GBP_USD"}] * 5000
    big = batch_of(rows)
    for start in (0, 1, 7, 19_996):
        assert_kernel_matches(big.slice(start, 4))
    assert len(kernel(big)) == 15_000


def test_kernel_splits_far_future_times_exactly():
    # above 2^53 µs (2255-06-05) a double no longer holds every µs
    far = {"2300-01-01T00:00:00.999999Z": 10_413_792_000_999_999,
           "9999-12-31T23:59:59.999999Z": 253_402_300_799_999_999}
    (_, a), (_, b) = kernel(batch_of(
        [{**TICK, "ts_micros": us} for us in far.values()]))
    got = [wd.decode_stream_message(f)[1] for f in (a, b)]
    assert [(g["ts_seconds"], g["ts_nanos"]) for g in got] == [
        (10_413_792_000, 999_999_000), (253_402_300_799, 999_999_000)]
