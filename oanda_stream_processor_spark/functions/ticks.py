"""Tick-pipeline column expressions (reference parity, P1-P4 + S3-S5).

Everything here is a pure Column expression over built-in functions, so the
whole parse→route→derive chain stays in the JVM — the Spark analog of the
reference's hand-fused event loop (main.rs:65-135), but distributed.
``route`` parses each line once, and a filter on the derived
``message_type`` (``publishable``) cannot split that parse.

Semantic invariants reproduced (SURVEY.md §2.1):
  * blank lines skipped            (oanda_client.rs:51-53)
  * malformed JSON dropped         (oanda_client.rs:57-60)
  * schema-mismatch kept Unknown   (oanda_client.rs:64-82)
  * spread uses unwrap_or(0.0)     (main.rs:70-72) — unparseable price
    contributes 0.0, NOT null
  * dual-format timestamp parse    (main.rs:140-151), RFC3339 preferred
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import HEARTBEAT, PRICE_TICK, TICK_LINE


def nonblank_lines(df: DataFrame, col: str = "value") -> DataFrame:
    """S2: skip blank/whitespace-only lines (OANDA keep-alives)."""
    return df.filter(F.length(F.trim(F.col(col))) > 0)


def route(df: DataFrame, col: str = "value") -> DataFrame:
    """S3-S5: parse, discriminate, validate — one wide row per line.

    Routing rules are the reference's 3-way dispatch
    (oanda_client.rs:63-82): ``type=="HEARTBEAT"`` → heartbeat; has an
    ``instrument`` key → price_tick; valid JSON otherwise → unknown
    (retained); non-JSON → dropped. A discriminator match whose payload
    fails validation — any serde-required field (models.rs:10-27: all
    seven PriceTick fields, Heartbeat.time) absent or type-mismatched —
    is demoted to unknown, mirroring the reference's serde-failure
    fallback (oanda_client.rs:66-78). Element-level PriceLevel
    validation is not enforced (documented divergence: from_json nulls
    a bad array element's field where serde rejects the whole message).

    Each line is parsed once, over the union of the PriceTick and
    Heartbeat fields: equal to one parse per schema, since a field that
    fails to parse (a heartbeat's ``"asks":"bad"``) nulls itself alone
    whatever ``spark.sql.json.enablePartialResults`` says (Spark 4.1).

    Validity (S3) is ``get_json_object(v, '$') IS NOT NULL``. The parse
    decides it alone when its corrupt-record column is null: with
    ``allowNonNumericNumbers`` off it accepts no line that
    ``get_json_object``'s JsonFactory rejects. A corrupt line (non-JSON,
    a non-object, a bad field, a raw tab) asks ``get_json_object``, so
    non-object JSON stays Unknown and non-JSON is dropped.

    The discriminator is the first ``type`` key. The parse keeps the
    last, so a line that could hold two (any backslash, which may escape
    the key, or, beside a ``HEARTBEAT``, a second ``"type"`` or a
    single-quoted ``'type'``) reads it with
    ``get_json_object(v, '$.type')`` instead.

    Invalid lines are dropped by a generator (``inline`` of a 0- or
    1-element array), not a ``Filter``: Catalyst pushes a filter on a
    parsed column below the projection and parses each line again, and
    it cannot push one below a generator, so a later filter on
    ``message_type`` (``publishable``) does not re-parse either.
    """
    parsed = df.select(F.col(col).alias("raw"), F.from_json(
        col, TICK_LINE, {"allowNonNumericNumbers": "false"}).alias("line"))
    raw, line = F.col("raw"), F.col("line")
    valid = (F.when(line.isNotNull() & line["_corrupt_record"].isNull(), True)
              .otherwise(F.get_json_object(raw, "$").isNotNull()))
    # the parse's type is the first unless the line may hold two; where
    # neither HEARTBEAT nor a backslash appears, both read not-HEARTBEAT
    two_types = raw.contains("\\") | (raw.contains("HEARTBEAT") & (
        raw.contains("'type'") | raw.rlike('(?s)"type".*"type"')))
    is_hb = F.when(two_types, F.get_json_object(raw, "$.type")).otherwise(
        line["type"]) == "HEARTBEAT"
    parsed = parsed.select(F.inline(F.when(valid, F.array(F.struct(
        raw, line, is_hb.alias("is_hb"))))))
    is_hb = F.col("is_hb")
    pt = F.struct(*[line[f].alias(f) for f in PRICE_TICK.fieldNames()])
    hb = F.struct(*[line[f].alias(f) for f in HEARTBEAT.fieldNames()])
    # from_json yields null for a missing or type-mismatched field — the
    # closest Spark analog of a serde deserialization failure. A non-null
    # `instrument` is one of them, so the has-instrument test is implied.
    pt_valid = F.expr(" AND ".join(f"line.{f} IS NOT NULL"
                                   for f in PRICE_TICK.fieldNames()))
    msg_type = (
        F.when(is_hb & line["time"].isNotNull(), F.lit("heartbeat"))
         .when(~is_hb & pt_valid, F.lit("price_tick"))
         .otherwise(F.lit("unknown"))
    )
    kind = F.col("message_type")
    return parsed.withColumn("message_type", msg_type).select(
        kind, F.when(kind == "price_tick", pt).alias("price_tick"),
        F.when(kind == "heartbeat", hb).alias("heartbeat"), "raw")


def price_as_double(c: Column) -> Column:
    """Reference String→f64 with unwrap_or(0.0) (main.rs:70-71):
    unparseable decimals become 0.0, never null."""
    return F.coalesce(c.try_cast("double"), F.lit(0.0))


def spread(closeout_ask: Column, closeout_bid: Column) -> Column:
    """P1: spread = closeout_ask − closeout_bid under 0.0-default casts
    (main.rs:70-72)."""
    return price_as_double(closeout_ask) - price_as_double(closeout_bid)


def parse_event_time(c: Column) -> Column:
    """P2: dual-format timestamp parse (main.rs:140-151).

    RFC3339 preferred, fallback ``%Y-%m-%dT%H:%M:%S%.fZ``. Spark timestamps
    are μs precision; the reference carries ns (main.rs:149) — the ns→μs
    truncation is documented, not fought (SURVEY.md §7 hard-part 3).
    """
    return F.coalesce(
        F.try_to_timestamp(c),  # handles RFC3339 w/ offset or Z
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]'Z'")),
    )


def format_display_time(ts: Column) -> Column:
    """P3: '%Y-%m-%d %H:%M:%S' display format (main.rs:81,103)."""
    return F.date_format(ts, "yyyy-MM-dd HH:mm:ss")


def format_spread(s: Column) -> Column:
    """P4: 5-decimal display formatting of the spread (main.rs:84)."""
    return F.format_number(s, 5)


def derive_tick_columns(df: DataFrame) -> DataFrame:
    """P1-P3 applied to the routed wide frame: adds spread/event_ts columns
    (null for non-tick rows), preserving heartbeats as data rows
    (invariant 5: heartbeats are data, not control — main.rs:95-116)."""
    tick = F.col("price_tick")
    return (
        df.withColumn(
            "spread",
            F.when(F.col("message_type") == "price_tick",
                   spread(tick["closeoutAsk"], tick["closeoutBid"])))
          .withColumn(
              "event_ts",
              parse_event_time(
                  F.when(F.col("message_type") == "price_tick", tick["time"])
                   .when(F.col("message_type") == "heartbeat",
                         F.col("heartbeat")["time"])))
    )


def publishable(df: DataFrame) -> DataFrame:
    """Sink-boundary filter: Unknown is retained in-engine but NEVER
    published (main.rs:117-119; proto oneof is closed,
    proto/oanda_stream.proto:27-32). The publish path's encoder drops
    Unknown itself (streaming/encode.py)."""
    return df.where(F.col("message_type").isin("price_tick", "heartbeat"))
