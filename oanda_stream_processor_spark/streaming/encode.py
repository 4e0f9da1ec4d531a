"""Executor-side protobuf encoding of the routed stream
(T1/T2 parity: /root/reference/src/main.rs:153-180 model→proto mapping
and the oneof envelope wrap at main.rs:89-91,111-113).

``encode_batch`` is a columnar kernel over one Arrow batch. It sizes
every field of every frame with numpy over the batch's offsets (string
byte lengths, varint widths, ladder levels summed per row), takes one
cumsum for the frame offsets and fills one byte buffer: tags, varints
(all byte planes of a field at once), string bytes gathered by index. Its
frames equal ``proto/wire.py``'s per-message encoders row for row
(tests/test_encode_kernel.py). It drops Unknown rows itself
(main.rs:117-119), so no filter on the derived ``message_type`` reaches
the plan (functions/ticks.py). It runs in mapInArrow tasks, or on the
driver (sinks.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENCODED_SCHEMA = "message_type string, payload binary"
_NAMES = ["message_type", "payload"]
# a varint of v takes one byte, plus one per limit that v reaches; its
# k-th byte holds bits 7k..7k+6
_LIMITS = np.array([1 << 7 * k for k in range(1, 10)], np.uint64)
_SHIFTS = np.arange(0, 70, 7, dtype=np.uint64)
# tag bytes (field << 3 | wire type): varint fields 1, 2; length fields 1-7
_INT1, _INT2 = 0x08, 0x10
_LEN1, _LEN2, _LEN3, _LEN4, _LEN5, _LEN6, _LEN7 = (
    f << 3 | 2 for f in range(1, 8))


def _width(v: np.ndarray) -> np.ndarray:
    """Varint byte count of each int64, negatives as 64-bit two's
    complement (10 bytes)."""
    return 1 + np.searchsorted(_LIMITS, v.view(np.uint64), side="right")


def _uint_size(v: np.ndarray) -> np.ndarray:
    """Size of a varint field; proto3 omits 0."""
    return (v != 0) * (1 + _width(v))


def _len_size(n: np.ndarray) -> np.ndarray:
    """Size of a length-delimited field of ``n`` payload bytes; proto3
    omits an empty string."""
    return (n > 0) * (1 + _width(n) + n)


def _put_varint(buf, at, v) -> np.ndarray:
    """Write each ``v`` as a varint at ``at``, all byte planes at once;
    returns the widths."""
    w = _width(v)
    k = np.arange(int(w.max(initial=1)))
    byte = ((v.view(np.uint64)[:, None] >> _SHIFTS[k]) & 0x7F).astype(
        np.uint8)
    byte[k < w[:, None] - 1] |= 0x80  # more bytes follow
    m = k < w[:, None]
    buf[(at[:, None] + k)[m]] = byte[m]
    return w


def _put_uint(buf, cur, tag, v) -> None:
    """A varint field per item where ``v`` is not 0; advances ``cur``."""
    i = np.flatnonzero(v)
    at = cur[i]
    buf[at] = tag
    cur[i] = at + 1 + _put_varint(buf, at + 1, v[i])


def _put_str(buf, cur, tag, start, length, data) -> None:
    """A length-delimited field per item where ``length`` is not 0,
    copying ``data[start:start + length]``; advances ``cur``."""
    i = np.flatnonzero(length)
    at, n, src = cur[i], length[i], start[i]
    buf[at] = tag
    at = at + 1 + _put_varint(buf, at + 1, n)
    step = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)
    buf[np.repeat(at, n) + step] = data[np.repeat(src, n) + step]
    cur[i] = at + n


def _valid(arr: pa.Array) -> np.ndarray:
    if not arr.null_count:
        return np.ones(len(arr), bool)
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _offsets(arr: pa.Array) -> np.ndarray:
    """The value offsets of a (possibly sliced) list or string array."""
    wide = pa.types.is_large_string(arr.type) or pa.types.is_large_list(
        arr.type)
    dt = np.dtype(np.int64 if wide else np.int32)
    return np.frombuffer(arr.buffers()[1], dt, len(arr) + 1,
                         arr.offset * dt.itemsize).astype(np.int64)


def _utf8(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(start, length) of each value's UTF-8 bytes in ``data``, and
    ``data``; a null reads as empty."""
    off, data = _offsets(arr), arr.buffers()[2]
    data = np.frombuffer(data, np.uint8) if data else np.empty(0, np.uint8)
    return off[:-1], np.diff(off) * _valid(arr), data


class _Ladder:
    """The levels of a ``list<struct<price, liquidity>>`` column in the
    rows of ``keep``: per level its row, body and place in the row's
    block; per row the block's size. A null level or field encodes as
    its proto3 default."""

    def __init__(self, col: pa.ListArray, keep: np.ndarray):
        off = _offsets(col)
        count = np.diff(off) * (keep & _valid(col))
        first = np.cumsum(count) - count
        self.row = np.repeat(np.arange(len(col)), count)
        idx = np.repeat(off[:-1] - first, count) + np.arange(count.sum())
        price, liquidity = col.values.flatten()
        start, length, self.data = _utf8(price)
        self.start, self.length = start[idx], length[idx]
        self.liquidity = liquidity.fill_null(0).to_numpy()[idx]
        self.body = _len_size(self.length) + _uint_size(self.liquidity)
        ends = np.concatenate(([0], np.cumsum(1 + _width(self.body)
                                              + self.body)))
        bound = np.concatenate((first, [len(idx)]))
        self.size = np.diff(ends[bound])
        self.before = ends[:-1] - ends[first][self.row]

    def put(self, buf, cur, tag) -> None:
        at = cur[self.row] + self.before
        buf[at] = tag
        at += 1 + _put_varint(buf, at + 1, self.body)
        _put_str(buf, at, _LEN1, self.start, self.length, self.data)
        _put_uint(buf, at, _INT2, self.liquidity)
        cur += self.size


def encode_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(message_type, envelope bytes) of each publishable row of a
    ``prepare``d batch, in row order."""
    kind = batch.column(0)
    pt, hb = (pc.equal(kind, k).fill_null(False).to_numpy(
        zero_copy_only=False) for k in ("price_tick", "heartbeat"))
    keep = pt | hb
    if not keep.any():
        return pa.RecordBatch.from_arrays(
            [kind.slice(0, 0), pa.array([], pa.binary())], _NAMES)
    asks, bids = _Ladder(batch.column(1), pt), _Ladder(batch.column(2), pt)
    strings = []  # (tag, start, length, data), in field order
    for i, tag, m in ((3, _LEN3, pt), (4, _LEN4, pt), (5, _LEN5, pt),
                      (6, _LEN6, pt), (7, _LEN2, hb)):
        start, length, data = _utf8(batch.column(i))
        strings.append((tag, start, length * m, data))
    ts = batch.column(8)
    micros, has_ts = ts.fill_null(0).to_numpy(), _valid(ts) & keep
    secs = micros // 1_000_000 * has_ts  # floor: down before 1970
    nanos = micros % 1_000_000 * 1000 * has_ts
    ts_body = _uint_size(secs) + _uint_size(nanos)  # under 128 bytes
    body = (asks.size + bids.size + has_ts * (2 + ts_body)
            + sum(_len_size(s[2]) for s in strings))
    size = keep * (1 + _width(body) + body)
    ends = np.cumsum(size)
    buf = np.empty(int(ends[-1]), np.uint8)
    rows = np.flatnonzero(keep)
    cur = ends - size
    buf[cur[rows]] = np.where(pt[rows], _LEN1, _LEN2)  # the oneof branch
    cur[rows] += 1 + _put_varint(buf, cur[rows] + 1, body[rows])

    def put_ts(tag, m):
        i = np.flatnonzero(m)
        buf[cur[i]], buf[cur[i] + 1] = tag, ts_body[i]
        cur[i] += 2
        _put_uint(buf, cur, _INT1, secs * m)
        _put_uint(buf, cur, _INT2, nanos * m)

    # Heartbeat { time = 1; type = 2 }
    put_ts(_LEN1, has_ts & hb)
    _put_str(buf, cur, *strings[4])
    # PriceTick { asks = 1; bids = 2; closeout_ask .. status = 3-6; time = 7 }
    asks.put(buf, cur, _LEN1)
    bids.put(buf, cur, _LEN2)
    for s in strings[:4]:
        _put_str(buf, cur, *s)
    put_ts(_LEN7, has_ts & pt)
    offsets = np.concatenate(([0], ends[rows])).astype(np.int32)
    payload = pa.Array.from_buffers(
        pa.binary(), len(rows), [None, pa.py_buffer(offsets),
                                 pa.py_buffer(buf)])
    return pa.RecordBatch.from_arrays(
        [kind.filter(pa.array(keep)), payload], _NAMES)


def prepare(df: DataFrame) -> DataFrame:
    """The kernel's input columns, in ``encode_batch``'s order.

    The event time goes as one long, µs since the epoch (Spark
    timestamps are µs: the documented ns→μs truncation, SURVEY.md §7).
    The kernel splits it into a Timestamp's seconds and nanos
    (main.rs:140-151) with integer floor division and mod, exact at any
    time, so before 1970 the seconds go down and the nanos stay in
    [0, 1e9)."""
    tick = F.col("price_tick")
    return df.select(
        "message_type",
        *[tick[f].alias(f) for f in ("asks", "bids", "closeoutAsk",
                                     "closeoutBid", "instrument", "status")],
        F.col("heartbeat")["type"].alias("type"),
        F.unix_micros("event_ts").alias("ts_micros"))


def encode_stream(df: DataFrame) -> DataFrame:
    """Routed+derived frame -> (message_type, payload bytes), publishable
    rows only."""
    return prepare(df).mapInArrow(
        lambda batches: map(encode_batch, batches), ENCODED_SCHEMA)
