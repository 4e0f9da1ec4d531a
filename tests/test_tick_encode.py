"""The tick publish path: one JSON parse per line, one Python pass.

* ``route`` parses each line once, over the union of the PriceTick and
  Heartbeat fields; ``route_separate_parses`` below is the earlier
  one-parse-per-schema expression, kept here as the oracle it must match
  row for row.
* the ``mapInArrow`` encoder survives null ladder levels and null
  liquidity, and its executed plan holds one ``from_json`` and no
  ``get_json_object`` outside a CASE branch, with or without a filter
  on ``message_type`` (``publishable``, q60, q61).
* the frames published for ``tests/data/ticks.ndjson`` are pinned byte
  for byte, and those of a generated capture equal, as a multiset, the
  per-message ``wire`` encoders' over the same prepared rows.
"""

from __future__ import annotations

import glob
import hashlib
import json
import random
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from oanda_stream_processor_spark.functions.ticks import (
    derive_tick_columns, nonblank_lines, publishable, route)
from oanda_stream_processor_spark.operators.ticks import (
    q60_tick_pipeline, q61_tick_spread_stats)
from oanda_stream_processor_spark.proto import wire_decode as wd
from oanda_stream_processor_spark.schemas import HEARTBEAT, PRICE_TICK
from oanda_stream_processor_spark.sources.ndjson import read_tick_lines
from oanda_stream_processor_spark.streaming.encode import (
    encode_stream, prepare)
from oanda_stream_processor_spark.streaming.sinks import (
    PartitionedFilePublisherFactory, publish_batch,
    publish_batch_partitioned)
from tests.test_encode_kernel import reference

ROUTED = ["message_type", "price_tick", "heartbeat", "raw", "spread",
          "event_ts"]


def route_separate_parses(df, col: str = "value"):
    """The oracle: one ``from_json`` per schema and ``get_json_object``
    probes for the discriminators, as ``route`` was first written."""
    v = F.col(col)
    is_json = F.get_json_object(v, "$").isNotNull()
    pt = F.from_json(v, PRICE_TICK)
    hb = F.from_json(v, HEARTBEAT)
    pt_valid = (pt["asks"].isNotNull() & pt["bids"].isNotNull()
                & pt["closeoutAsk"].isNotNull() & pt["closeoutBid"].isNotNull()
                & pt["instrument"].isNotNull() & pt["status"].isNotNull()
                & pt["time"].isNotNull())
    hb_valid = hb["time"].isNotNull()
    is_hb = F.get_json_object(v, "$.type") == "HEARTBEAT"
    has_instrument = F.get_json_object(v, "$.instrument").isNotNull()
    msg_type = (
        F.when(is_hb & hb_valid, F.lit("heartbeat"))
         .when(~is_hb & has_instrument & pt_valid, F.lit("price_tick"))
         .otherwise(F.lit("unknown"))
    )
    out = (
        df.where(is_json)
          .withColumn("message_type", msg_type)
          .withColumn("price_tick",
                      F.when(F.col("message_type") == "price_tick", pt))
          .withColumn("heartbeat",
                      F.when(F.col("message_type") == "heartbeat", hb))
          .withColumnRenamed(col, "raw")
    )
    return out.select("message_type", "price_tick", "heartbeat", "raw")


def _routed(spark, lines, route_fn):
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    out = derive_tick_columns(route_fn(nonblank_lines(df))).select(ROUTED)
    # event_ts as µs: a year before 1 ("time": -1728) has no datetime
    rows = out.withColumn("event_ts", F.unix_micros("event_ts")).collect()
    return out.schema, sorted(rows, key=repr)


def _assert_routes_agree(spark, lines):
    got_schema, got = _routed(spark, lines, route)
    want_schema, want = _routed(spark, lines, route_separate_parses)
    assert got_schema == want_schema
    assert got == want


TICK = {"type": "PRICE", "time": "2026-08-13T09:15:01.5Z",
        "instrument": "EUR_USD", "status": "tradeable",
        "closeoutBid": "1.0", "closeoutAsk": "1.1",
        "bids": [{"price": "1.0", "liquidity": 5}],
        "asks": [{"price": "1.1", "liquidity": 7}]}


def _tick(**kw) -> str:
    return json.dumps({**TICK, **kw}, ensure_ascii=False)


HB_X = '{"type":"HEARTBEAT","time":"2026-08-13T00:00:00Z","x":%s}'


ADVERSARIAL = [
    # a Heartbeat field parses; the PriceTick-only `asks` does not, and
    # the union parse must keep `time` all the same
    '{"type":"HEARTBEAT","time":"2026-08-13T00:00:00Z","asks":"bad"}',
    '{"type":5,"time":"2026-08-13T00:00:00Z"}',
    '{"type":{"a":1},"time":"2026-08-13T00:00:00Z"}',
    '{"type":"HEARTBEAT","type":"X","time":"2026-08-13T00:00:00Z"}',
    '{"type":"X","type":"HEARTBEAT","time":"2026-08-13T00:00:00Z"}',
    '{"instrument":"X","instrument":null}',
    "[1,2]", "42", '"str"', "null", "{}", '{"type":"PRICE","time":',
    '[' + _tick() + ']',
    _tick(asks=[{"price": "1.1", "liquidity": -3}]),
    _tick(closeoutAsk="", closeoutBid="", instrument="", status=""),
    _tick(time=""), _tick(time="1969-07-20T20:17:40.25Z"),
    _tick(time="2026-08-13T09:15:01+02:00"), _tick(time="not a time"),
    _tick(instrument="EUR_€_日本"), _tick(type="HEARTBEAT"),
    _tick(asks=[None]), _tick(bids=[{"price": "1"}]),
    _tick(bids=[{"price": 1, "liquidity": "x"}]), _tick(asks="bad"),
    _tick(asks=[{"price": "1", "liquidity": 1.5}]),
    _tick(closeoutAsk=1.5, status=None), _tick(closeoutBid="N/A"),
    json.dumps({k: v for k, v in TICK.items() if k != "type"}),
    "", "   ",
    # where the parse and get_json_object could disagree: tokens only
    # the parse accepts by default, keys only get_json_object reads first
    HB_X % "NaN", HB_X % "-Infinity", HB_X % "+INF",
    _tick().replace('"1.1"', "Infinity", 1),
    "{'type':'HEARTBEAT','time':'2026-08-13T00:00:00Z'}",
    "{\"type\":\"HEARTBEAT\",'type':'X','time':'2026-08-13T00:00:00Z'}",
    "{'type':'X',\"type\":\"HEARTBEAT\",\"time\":\"2026-08-13T00:00:00Z\"}",
    '{"\\u0074ype":"X","type":"HEARTBEAT","time":"2026-08-13T00:00:00Z"}',
    '{"type":"HEARTBEAT","\\u0074ype":"X","time":"2026-08-13T00:00:00Z"}',
    '{"type":"HEART\\u0042EAT","time":"2026-08-13T00:00:00Z"}',
    HB_X % '"type"', '{"x":"type","type":"X","time":"2026-08-13T00:00:00Z"}',
    '{"o":{"type":"HEARTBEAT"},"type":"X","time":"2026-08-13T00:00:00Z"}',
    HB_X % '"a\tb"', _tick().replace("EUR_USD", "EUR\tUSD"),
    _tick() + " x", _tick() + "}", HB_X % "1" + " x",
    HB_X % "01", _tick().replace("5}", "05}", 1),
    HB_X % "1e999", _tick().replace("5}", "1e999}", 1),
]


def test_route_matches_separate_parses_on_adversarial_lines(spark):
    _assert_routes_agree(spark, ADVERSARIAL)


def test_bad_tick_field_keeps_the_heartbeat(spark):
    # the union parse nulls the mismatched field alone, under either
    # setting of enablePartialResults
    key = "spark.sql.json.enablePartialResults"
    line = spark.createDataFrame([(ADVERSARIAL[0],)], "value string")
    before = spark.conf.get(key)
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            assert [r.message_type for r in route(line).collect()] == [
                "heartbeat"]
    finally:
        spark.conf.set(key, before)


_scalar = st.one_of(
    st.none(), st.booleans(), st.integers(-2**70, 2**70),
    st.floats(),  # json.dumps writes NaN, Infinity and -Infinity bare
    st.text(max_size=8),
    st.sampled_from(["HEARTBEAT", "PRICE", "2026-08-13T09:15:01Z",
                     "2026-08-13T09:15:01.123456789Z",
                     "1969-12-31T23:59:59.5Z", "1.0945"]))
_level = st.one_of(
    st.none(), _scalar,
    st.fixed_dictionaries({}, optional={"price": _scalar,
                                        "liquidity": _scalar}))
_ladder = st.one_of(_scalar, st.lists(_level, max_size=3))
_line_obj = st.fixed_dictionaries({}, optional={
    "type": _scalar, "time": _scalar, "instrument": _scalar,
    "status": _scalar, "closeoutBid": _scalar, "closeoutAsk": _scalar,
    "bids": _ladder, "asks": _ladder, "extra": _scalar})


# members json.dumps cannot write, each of which the parse and
# get_json_object could read differently
_raw_member = st.sampled_from([
    '"n": 01', '"n": 1e999', '"bids": [{"price": "1", "liquidity": 1e999}]',
    '"x": "a\tb"', '"x": "type"', '"type": "HEARTBEAT"', '"type": "X"',
    "'type': 'HEARTBEAT'", "'x': 'type'", '"\\u0074ype": "HEARTBEAT"',
    '"type": "HEART\\u0042EAT"'])


@st.composite
def _lines(draw):
    obj = draw(_line_obj)
    line = json.dumps(obj, ensure_ascii=draw(st.booleans()))
    for member in draw(st.lists(_raw_member, max_size=2)):
        sep = ", " if line != "{}" else ""
        line = draw(st.sampled_from([
            "{" + member + sep + line[1:], line[:-1] + sep + member + "}"]))
    line += draw(st.sampled_from(["", "", " x", "}"]))
    cut = draw(st.one_of(st.none(), st.integers(0, len(line))))
    return line if cut is None else line[:cut]


@settings(max_examples=6, deadline=None)
@given(st.lists(st.one_of(_lines(), st.text(max_size=10)), max_size=60))
def test_route_matches_separate_parses_on_generated_lines(spark, lines):
    _assert_routes_agree(spark, [ln.replace("\n", " ") for ln in lines])


def test_encoder_survives_null_levels_and_liquidity(spark):
    lines = [_tick(asks=[None], instrument="NULL_LEVEL"),
             _tick(bids=[{"price": "1.0"}, {"price": "0.9", "liquidity": "x"}],
                   instrument="NULL_LIQUIDITY"),
             _tick(instrument="EUR_USD", time="1969-07-20T20:17:40.25Z"),
             # from 2^53 µs (2255-06-05) on, a double split of the µs
             # rounds the seconds up
             _tick(instrument="FAR", time="2300-01-01T00:00:00.999999Z"),
             _tick(instrument="END", time="9999-12-31T23:59:59.999999Z")]
    df = spark.createDataFrame([(ln,) for ln in lines],
                               "value string").coalesce(1)
    derived = derive_tick_columns(route(df))
    encoded = encode_stream(derived).collect()
    got = {}
    for row in encoded:
        kind, body = wd.decode_stream_message(bytes(row.payload))
        assert kind == row.message_type == "price_tick"
        got[body["instrument"]] = (body["asks"], body["bids"],
                                   body["ts_seconds"], body["ts_nanos"])
    t = (1_786_612_501, 500_000_000)  # TICK's time, 2026-08-13T09:15:01.5Z
    assert got == {
        "NULL_LEVEL": ([("", 0)], [("1.0", 5)], *t),
        "NULL_LIQUIDITY": ([("1.1", 7)], [("1.0", 0), ("0.9", 0)], *t),
        # before 1970 the seconds go down and the nanos stay positive
        "EUR_USD": ([("1.1", 7)], [("1.0", 5)], -14_182_940, 250_000_000),
        "FAR": ([("1.1", 7)], [("1.0", 5)], 10_413_792_000, 999_999_000),
        "END": ([("1.1", 7)], [("1.0", 5)], 253_402_300_799, 999_999_000)}

    class Recorder:
        def __init__(self):
            self.payloads = []

        def publish(self, payload):
            self.payloads.append(payload)

    rec = Recorder()
    assert publish_batch(derived, rec) == 5
    assert rec.payloads == [bytes(r.payload) for r in encoded]


_PROBE_SCOPE = re.compile(
    r"\bCASE WHEN\b|\b(?:WHEN|THEN|ELSE|END)\b|get_json_object\(")


def _unconditional_probes(node: str) -> int:
    """The ``get_json_object`` calls a plan node makes on every row: all
    of a Filter's, and elsewhere those outside every CASE's branches
    (its THEN and ELSE values and its later WHEN conditions)."""
    if re.match(r"[\s+\-:*()\d]*Filter ", node):
        return node.count("get_json_object(")
    n, cases = 0, []  # per open CASE: past its first condition yet?
    for tok in _PROBE_SCOPE.findall(node):
        if tok == "CASE WHEN":
            cases.append(False)
        elif tok == "END":
            cases.pop()
        elif tok != "get_json_object(":
            cases[-1] = True
        elif not any(cases):
            n += 1
    return n


def _plan_counts(df) -> tuple[int, int, int]:
    """(from_json, unconditional get_json_object, Python nodes) in the
    executed plan; a scan's pushed-filter listing repeats its Filter
    and is skipped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "Scan " not in ln]
    python = [ln for ln in nodes
              if re.search(r"MapIn(Arrow|Pandas)|EvalPython|InPandas", ln)]
    return (sum(ln.count("from_json(") for ln in nodes),
            sum(map(_unconditional_probes, nodes)), len(python))


def test_probe_scope_reads_case_branches():
    probe = "get_json_object(raw#2, $)"
    assert _unconditional_probes(f"+- *(2) Filter isnotnull({probe})") == 1
    assert _unconditional_probes(f"Project [({probe} = X) AS is_hb#7]") == 1
    assert _unconditional_probes(
        f"Project [CASE WHEN isnotnull({probe}) THEN 1 END AS k#1]") == 1
    assert _unconditional_probes(
        f"Generate inline(CASE WHEN CASE WHEN a THEN true ELSE {probe} END "
        f"THEN array(CASE WHEN b THEN {probe} ELSE c END) END)") == 0


def test_publish_plan_parses_each_line_once(spark, tick_capture):
    derived = derive_tick_columns(
        route(nonblank_lines(read_tick_lines(spark, tick_capture))))
    assert _plan_counts(encode_stream(derived)) == (1, 0, 1)


def test_message_type_filter_does_not_reparse(spark, tick_capture):
    """``route`` drops invalid lines with a generator, so a filter on
    ``message_type`` cannot be pushed below its parse and split it."""
    derived = derive_tick_columns(
        route(nonblank_lines(read_tick_lines(spark, tick_capture))))
    assert _plan_counts(encode_stream(publishable(derived))) == (1, 0, 1)
    for q in (q60_tick_pipeline, q61_tick_spread_stats):
        assert _plan_counts(q(spark, "")) == (1, 0, 0)


# sha256 over the sorted, length-prefixed frames published for
# tests/data/ticks.ndjson (3 ticks + 1 heartbeat)
TICKS_FRAMES_SHA256 = (
    "c3973b2dd98d9ed9b97c1beecf95c364896f65d903208b421185996c9d5d5d35")


def _digest(frames) -> str:
    return hashlib.sha256(b"".join(
        len(f).to_bytes(4, "big") + f for f in sorted(frames))).hexdigest()


def test_published_frames_are_pinned(spark, tick_capture, tmp_path):
    derived = derive_tick_columns(
        route(nonblank_lines(read_tick_lines(spark, tick_capture))))
    base = str(tmp_path / "pub")
    assert publish_batch_partitioned(
        derived, PartitionedFilePublisherFactory(base)) == 4
    frames = [f for p in glob.glob(base + ".*")
              for f in wd.iter_frames(open(p, "rb").read())]
    assert len(frames) == 4
    assert _digest(frames) == TICKS_FRAMES_SHA256


def _random_line(rng: random.Random, i: int) -> str:
    """A capture line: mostly ticks with 0-5 levels a side, some of them
    odd; heartbeats, Unknown, blank and malformed lines."""
    t = (f"{rng.choice([1969, 2026, 2026, 2026])}-08-13T09:"
         f"{i // 60 % 60:02d}:{i % 60:02d}.{rng.randrange(10**6):06d}Z")
    r = rng.random()
    if r < 0.02:
        return json.dumps({"type": "HEARTBEAT", "time": t})
    if r < 0.03:
        return json.dumps({"type": "MAINTENANCE", "time": t})
    if r < 0.04:
        return rng.choice(["", "  ", '{"type":"PRICE","time":'])

    def level():
        if rng.random() < 0.02:
            return rng.choice([None, {"price": "1.0"}])
        return {"price": f"{rng.uniform(0, 200):.{rng.randrange(7)}f}",
                "liquidity": rng.choice([0, -5, 127, 128, 10**6,
                                         rng.randrange(2**40)])}

    def ladder():
        return [level() for _ in range(rng.randrange(6))]

    return _tick(time=t, asks=ladder(), bids=ladder(),
                 instrument=rng.choice(["EUR_USD", "USD_JPY", "", "日本_€"]),
                 closeoutAsk=f"{rng.uniform(0, 2):.5f}")


@pytest.mark.slow
def test_partitioned_frames_equal_the_wire_reference(spark, tmp_path):
    rng = random.Random(20)
    capture = tmp_path / "capture.ndjson"
    capture.write_text("\n".join(_random_line(rng, i)
                                 for i in range(20_000)) + "\n")
    derived = derive_tick_columns(
        route(nonblank_lines(read_tick_lines(spark, str(capture)))))
    base = str(tmp_path / "pub")
    n = publish_batch_partitioned(
        derived, PartitionedFilePublisherFactory(base))
    parts = glob.glob(base + ".*")
    got = sorted(f for p in parts
                 for f in wd.iter_frames(open(p, "rb").read()))
    want = sorted(f for b in prepare(derived).toArrow().to_batches()
                  for _, f in reference(b))
    assert len(parts) > 1
    assert n == len(got) == len(want) > 19_000
    assert got == want
