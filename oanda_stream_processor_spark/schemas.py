"""Declared schemas.

Wire schemas mirror the reference's serde structs
(/root/reference/src/models.rs:3-34): camelCase field names on the wire,
decimal prices carried as strings (OANDA's exact-decimal convention),
RFC3339 ns-precision time strings.  The tagged union
``StreamMessage = PriceTick | Heartbeat | Unknown`` (models.rs:29-34) has no
native Spark analog; we represent it as ONE wide schema: a
``message_type`` discriminator column plus nullable ``price_tick`` /
``heartbeat`` struct columns, with the raw line retained as the Unknown
payload (schema-on-read with a dynamic escape hatch, exactly the
reference's serde_json::Value fallback at oanda_client.rs:55-82).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- wire schemas (reference models.rs:3-27; camelCase per models.rs:4,11) --

# PriceLevel { price: String, liquidity: u64 }  (models.rs:3-8)
# u64 -> LongType: Spark has no unsigned; OANDA liquidity << 2^63, lossless.
PRICE_LEVEL = T.StructType([
    T.StructField("price", T.StringType()),
    T.StructField("liquidity", T.LongType()),
])

# PriceTick (models.rs:10-20). Prices stay StringType on ingest; math casts
# happen downstream with try_cast (reference casts to f64 only for the
# spread, main.rs:70-71).
PRICE_TICK = T.StructType([
    T.StructField("asks", T.ArrayType(PRICE_LEVEL)),
    T.StructField("bids", T.ArrayType(PRICE_LEVEL)),
    T.StructField("closeoutAsk", T.StringType()),
    T.StructField("closeoutBid", T.StringType()),
    T.StructField("instrument", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("time", T.StringType()),
])

# Heartbeat { time, type } (models.rs:22-27; serde renames type->message_type)
HEARTBEAT = T.StructType([
    T.StructField("time", T.StringType()),
    T.StructField("type", T.StringType()),
])

# One tick line parsed once: PriceTick's fields plus Heartbeat's ``type``
# (``time`` is shared) and the parse's corrupt-record column;
# functions/ticks.route cuts both payloads from it.
TICK_LINE = T.StructType(PRICE_TICK.fields + [
    HEARTBEAT["type"], T.StructField("_corrupt_record", T.StringType())])

# --- fixture schemas (verified against /root/testdata parquet footers) ------

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

EVENT_PROPS = T.MapType(T.StringType(), T.LongType())
