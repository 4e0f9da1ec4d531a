"""Minimal proto3 wire encoder for the stream output contract.

Implements the public proto3 encoding rules (varint, length-delimited)
for the message shapes declared in the reference wire schema
(/root/reference/proto/oanda_stream.proto):

  PriceLevelProto   { string price = 1; uint64 liquidity = 2; }
  PriceTickProto    { repeated PriceLevelProto asks = 1; bids = 2;
                      string closeout_ask = 3; closeout_bid = 4;
                      instrument = 5; status = 6;
                      google.protobuf.Timestamp time = 7; }
  HeartbeatProto    { Timestamp time = 1; string type = 2; }
  StreamMessageProto{ oneof { PriceTickProto price_tick = 1;
                              HeartbeatProto heartbeat = 2; } }
  Timestamp         { int64 seconds = 1; int32 nanos = 2; }

proto3 semantics honored: default values (empty string, 0) are omitted;
oneof encodes exactly one branch. Tags are constant bytes and values
under 128 come from a table. The functions below encode one message per
call: they are the reference the columnar batch kernel
(streaming/encode.py) is tested against, and perfbench's API.

If google.protobuf becomes available, these bytes parse with the
generated classes for the same .proto — the contract, not this encoder,
is the interface.
"""

from __future__ import annotations

_ONE_BYTE = [bytes((i,)) for i in range(128)]


def _varint(n: int) -> bytes:
    if 0 <= n < 128:
        return _ONE_BYTE[n]
    if n < 0:
        n &= (1 << 64) - 1  # two's-complement 64-bit, per spec
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _str(tag: bytes, s: str | None) -> bytes:
    if not s:
        return b""  # proto3: empty string -> omit
    b = s.encode("utf-8")
    return tag + _varint(len(b)) + b


def _uint(tag: bytes, n: int | None) -> bytes:
    if not n:
        return b""  # proto3 default 0 -> omit
    return tag + _varint(n)


def _submsg(tag: bytes, payload: bytes) -> bytes:
    """Submessage presence is explicit: encoded even when empty."""
    return tag + _varint(len(payload)) + payload


# constant tag bytes (field << 3 | wire type), by field number and type
_LEN1, _LEN2, _LEN3, _LEN4, _LEN5, _LEN6, _LEN7 = (
    _ONE_BYTE[f << 3 | 2] for f in range(1, 8))
_INT1, _INT2 = _ONE_BYTE[1 << 3], _ONE_BYTE[2 << 3]
_ENVELOPE = {"price_tick": _LEN1, "heartbeat": _LEN2}


def encode_timestamp(seconds: int, nanos: int) -> bytes:
    return _uint(_INT1, seconds) + _uint(_INT2, nanos)


def encode_price_level(price: str | None, liquidity: int | None) -> bytes:
    return _str(_LEN1, price) + _uint(_INT2, liquidity)


def encode_price_tick(asks, bids, closeout_ask, closeout_bid,
                      instrument, status, ts_seconds, ts_nanos) -> bytes:
    """``asks``/``bids`` are iterables of (price, liquidity); a null
    price or liquidity encodes as its proto3 default."""
    out = [_submsg(_LEN1, encode_price_level(p, q)) for p, q in asks or ()]
    out += [_submsg(_LEN2, encode_price_level(p, q)) for p, q in bids or ()]
    out += (_str(_LEN3, closeout_ask), _str(_LEN4, closeout_bid),
            _str(_LEN5, instrument), _str(_LEN6, status))
    if ts_seconds is not None:
        out.append(_submsg(_LEN7, encode_timestamp(ts_seconds, ts_nanos)))
    return b"".join(out)


def encode_heartbeat(ts_seconds, ts_nanos, hb_type: str | None) -> bytes:
    out = b""
    if ts_seconds is not None:
        out = _submsg(_LEN1, encode_timestamp(ts_seconds, ts_nanos))
    return out + _str(_LEN2, hb_type)


def encode_stream_message(message_type: str, payload: bytes) -> bytes:
    """oneof envelope: price_tick=1, heartbeat=2 — the wire schema is
    closed; anything else (Unknown) is refused here, as the batch kernel
    drops it (main.rs:117-119)."""
    tag = _ENVELOPE.get(message_type)
    if tag is None:
        raise ValueError(f"unpublishable message_type: {message_type!r}")
    return _submsg(tag, payload)
