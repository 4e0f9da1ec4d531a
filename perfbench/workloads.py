"""The workloads. Each calls the program only through its public
functions, takes its inputs from ``datagen`` and checks every output.

A workload is a ``prepare`` step (session, inputs, warm-up; counted in
``setup_s``) and a ``measure`` step that runs timed units for
``run.seconds`` and returns the end-to-end metrics. With tracing on,
``measure`` also records spans around each layer call and reads Spark's
counters after each timed call; ``run.py`` then runs it twice, once
untraced and once traced, and reports the difference as overhead.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

from datagen import documents_rows, time_key, write_capture, write_tables
from harness import SparkCounters, median, pct

REPLAY_LINES = 100_000
LIVE_RATE = 200          # messages per second
LIVE_INTERVAL = 0.1      # one landed file per interval
LIVE_WARMUP_BATCHES = 4
LIVE_MAX_S = 120.0       # the generator's own stop, should the run hang
MIX_SCALE = 0.1          # table sizes as a share of the sf0.01 fixture
# one query per operator module, so a cold pass fits a run
MIX_QUERIES = "q01 q28 q30 q41 q45 q126 q175 q99".split()
STORE_DOCS = 400
COMPACT_EVERY = 4
PIPELINE_PHASES = ("triggerExecution", "addBatch", "latestOffset",
                   "getBatch", "queryPlanning", "walCommit",
                   "commitOffsets")


def _e2e(items_per_s: float, lat_ms: list[float], cpu_s: float,
         items: int) -> dict:
    return {"items_per_s": items_per_s,
            "latency_p50_ms": median(lat_ms),
            "latency_p90_ms": pct(lat_ms, 90),
            "cpu_ms_per_item": cpu_s * 1e3 / max(1, items)}


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _batch_end(p: dict) -> float:
    """Epoch seconds at which a progress event's trigger finished."""
    start = datetime.datetime.strptime(
        p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=datetime.timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _pipeline_layers(run, progress: list[dict], t_start: float) -> None:
    """recentProgress medians over the batches that had input; the first
    batch time runs from the query's start (epoch ``t_start``) to the end
    of the first batch with input."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    run.layer["pipeline.batches"] = len(batches)
    if not batches:
        return
    run.layer["pipeline.rows_per_batch_p50"] = median(
        [p["numInputRows"] for p in batches])
    run.layer["pipeline.first_batch_ms"] = (
        _batch_end(batches[0]) - t_start) * 1e3
    for ph in PIPELINE_PHASES:
        run.layer[f"pipeline.{ph}_ms"] = median(
            [p["durationMs"].get(ph, 0) for p in batches])


# --- tick decoding and checks ------------------------------------------------------

def _frames(base: str) -> list[bytes]:
    from oanda_stream_processor_spark.proto.wire_decode import iter_frames
    out = []
    for path in sorted(glob.glob(base + ".*")):
        with open(path, "rb") as f:
            out.extend(iter_frames(f.read()))
    return out


def _decoded(payload: bytes) -> tuple[tuple[int, int], tuple]:
    from oanda_stream_processor_spark.proto.wire_decode import (
        decode_stream_message)
    kind, body = decode_stream_message(payload)
    key = (body["ts_seconds"], body["ts_nanos"])
    if kind == "heartbeat":
        return key, ("heartbeat", "", "", "")
    return key, (kind, body["instrument"], body["closeout_bid"],
                 body["closeout_ask"])


def check_delivery(run, payloads: list[bytes], expect: dict) -> dict:
    """Every expected message exactly once, each decoding to the
    generator's kind, instrument, bid and ask (hence spread) and time.
    Counts one operation per expected message. Returns key -> index."""
    seen: dict = {}
    bad = 0
    for i, p in enumerate(payloads):
        try:
            key, got = _decoded(p)
        except ValueError:  # a frame that does not parse is a failed one
            bad += 1
            continue
        if key in seen or expect.get(key) != got:
            bad += 1
        seen[key] = i
    missing = sum(1 for k in expect if k not in seen)
    run.count(len(expect), missing + bad, "tick delivery")
    return seen


# --- tick_replay ---------------------------------------------------------------------

def prepare_tick_replay(run) -> None:
    from oanda_stream_processor_spark.streaming.pipeline import run_pipeline
    from oanda_stream_processor_spark.streaming.sinks import (
        PartitionedFilePublisherFactory)
    spark = run.session()
    os.makedirs(run.path("capture"))
    run.capture = run.path("capture", "ticks.ndjson")
    run.expect = write_capture(run.capture, run.seed, REPLAY_LINES)
    # the warm-up replays the capture itself: the JVM compiles the parse
    # and encode paths at the volume the timed replays run at
    with run.warmup():
        h = run_pipeline(spark, run.capture,
                         checkpoint_dir=run.path("warm-ckpt"),
                         publisher_factory=PartitionedFilePublisherFactory(
                             run.path("warm-out")))
        h.process_all_available()
        h.stop()


def measure_tick_replay(run) -> dict:
    from oanda_stream_processor_spark.streaming.pipeline import run_pipeline
    from oanda_stream_processor_spark.streaming.sinks import (
        PartitionedFilePublisherFactory)
    spark = run.spark
    walls, cpus, bases = [], [], []
    t_end = time.perf_counter() + run.seconds
    while not walls or time.perf_counter() < t_end:
        i = run.next_id()
        bases.append(run.path(f"out{i}"))
        factory = PartitionedFilePublisherFactory(bases[-1])
        cpu0 = run.meter.cpu
        t_start = time.time()
        with run.timed():
            h = run_pipeline(spark, run.capture,
                             checkpoint_dir=run.path(f"ckpt{i}"),
                             publisher_factory=factory)
            h.process_all_available()
            h.stop()
        progress = _progress(h.queries[0])
        walls.append(run.last_wall)
        cpus.append(run.meter.cpu - cpu0)
        run.sample_host()
    # checks after the window, so that they do not take its time
    n = len(run.expect)
    first_out = None
    for base in bases:
        payloads = _frames(base)
        run.layer["sinks.frames"] = len(payloads)
        if first_out is None:
            check_delivery(run, payloads, run.expect)
            first_out = sorted(payloads)
        else:
            run.count(n, 0 if sorted(payloads) == first_out else n,
                      "replay output differs from the first replay")
        for p in glob.glob(base + ".*"):
            os.remove(p)
    run.layer["gen.msgs"] = REPLAY_LINES
    if run.tracer.enabled:
        _pipeline_layers(run, progress, t_start)
        _replay_ladder(run, spark, median(walls))
    run.unit_s = median(walls)
    rate = [n / w for w in walls]
    return _e2e(median(rate), [w * 1e3 for w in walls],
                median(cpus), n)


def _replay_ladder(run, spark, stream_wall: float) -> None:
    """Batch-mode prefixes of the tick chain over the same capture, each
    forced into the noop sink; a stage's self time is its prefix time
    minus the previous prefix's."""
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.functions.ticks import (
        derive_tick_columns, nonblank_lines, publishable, route)
    from oanda_stream_processor_spark.proto import wire
    from oanda_stream_processor_spark.sources.ndjson import read_tick_lines
    from oanda_stream_processor_spark.streaming.encode import encode_stream
    from oanda_stream_processor_spark.streaming.sinks import (
        PartitionedFilePublisherFactory, publish_batch_partitioned)

    counters = SparkCounters(spark)
    par = spark.sparkContext.defaultParallelism

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    lines = read_tick_lines(spark, run.capture)
    routed = route(nonblank_lines(lines))
    derived = derive_tick_columns(routed)
    steps = [
        ("sources.read_tick_lines", lambda: noop(lines)),
        ("ticks.route", lambda: noop(routed)),
        ("ticks.derive", lambda: noop(derived)),
        ("encode", lambda: noop(encode_stream(
            publishable(derived).repartition(par)))),
        ("sinks.partitioned", lambda: publish_batch_partitioned(
            derived, PartitionedFilePublisherFactory(run.path("ladder")))),
    ]
    prefix, group = [], {}
    for name, fn in steps:
        # best of two: the first run of a prefix also pays its codegen
        for rep in range(2):
            spark.sparkContext.setJobGroup(f"{name}{rep}", name)
            with run.tracer.span(f"ladder.{name}"):
                fn()
        prefix.append(min(run.tracer.durations(f"ladder.{name}")[-2:]))
        group[name] = counters.group(f"{name}1")
    spark.sparkContext.setJobGroup("untracked", "untracked")
    self_s = [prefix[0]] + [b - a for a, b in zip(prefix, prefix[1:])]
    lay = run.layer
    (lay["sources.read_tick_lines_s"], lay["ticks.route.self_s"],
     lay["ticks.derive.self_s"], lay["encode.self_s"],
     lay["sinks.partitioned.publish_s"]) = self_s
    lay["trace.unattributed_s"] = stream_wall - sum(self_s)
    lay["sources.input_bytes"] = group["sources.read_tick_lines"][
        "input_bytes"]
    enc = group["encode"]
    for k in ("py_start_ms", "py_init_ms", "py_run_ms", "arrow_bytes_sent",
              "arrow_bytes_returned"):
        lay[f"encode.{k}"] = enc[k]
    counts = {r["message_type"]: r["count"] for r in
              routed.groupBy("message_type").count().collect()}
    for kind in ("price_tick", "heartbeat", "unknown"):
        lay[f"ticks.rows.{kind}"] = counts.get(kind, 0)
    lay["ticks.rows.dropped"] = (
        nonblank_lines(lines).count() - sum(counts.values()))
    for p in glob.glob(run.path("ladder") + ".*"):
        os.remove(p)
    # the wire encoder alone, driven from here over parsed capture ticks
    ticks = derived.where(F.col("message_type") == "price_tick").limit(
        2000).collect()
    args = [(_levels(r.price_tick.asks), _levels(r.price_tick.bids),
             r.price_tick.closeoutAsk, r.price_tick.closeoutBid,
             r.price_tick.instrument, r.price_tick.status,
             int(r.event_ts.timestamp()), r.event_ts.microsecond * 1000)
            for r in ticks]
    with run.tracer.span("wire.encode"):
        for a in args:
            wire.encode_stream_message("price_tick",
                                       wire.encode_price_tick(*a))
    lay["wire.encode_us_per_msg"] = (
        run.tracer.durations("wire.encode")[-1] * 1e6 / max(1, len(args)))


def _levels(levels) -> list:
    return [(lv.price, lv.liquidity) for lv in levels or []]


# --- tick_live -----------------------------------------------------------------------

def _batches_done(query) -> int:
    return sum(1 for p in query.recentProgress if p.numInputRows > 0)


class RecordingPublisher:
    """Driver-side publisher: keeps (publish wall time, payload) in
    memory; decoding happens after the run."""

    def __init__(self):
        self.frames: list[tuple[float, bytes]] = []

    def publish(self, payload: bytes) -> None:
        self.frames.append((time.time(), payload))


def prepare_tick_live(run) -> None:
    run.session()  # the warm-up runs inside measure, on the live stream


def measure_tick_live(run) -> dict:
    from oanda_stream_processor_spark.streaming.pipeline import run_pipeline
    spark = run.spark
    cpu0 = run.meter.cpu
    src = run.path(f"live-in{run.next_id()}")
    os.makedirs(src)
    pub = RecordingPublisher()
    t_query = time.time()
    query = run_pipeline(spark, src, publisher=pub, checkpoint_dir=run.path(
        f"live-ckpt{run.next_id()}")).queries[0]
    start = time.time() + 0.5
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "livegen.py"),
         "--dir", src, "--seed", str(run.seed), "--rate", str(LIVE_RATE),
         "--interval", str(LIVE_INTERVAL), "--start", repr(start),
         "--seconds", repr(LIVE_MAX_S)],
        stdout=subprocess.PIPE, text=True)
    try:
        # warm-up: until the backlog that piles up behind the cold first
        # batch has drained, i.e. a few batches have completed; events
        # due before that are not measured
        while (gen.poll() is None
               and _batches_done(query) < LIVE_WARMUP_BATCHES):
            time.sleep(0.05)
        t_meas = time.time()
        run.layer["session.warmup_s"] = t_meas - start
        with run.timed():
            time.sleep(max(0.0, t_meas + run.seconds - time.time()))
            gen.terminate()
            out, _ = gen.communicate(timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    query.processAllAvailable()
    query.stop()
    gen_info = json.loads(out.strip().splitlines()[-1])
    t_meas_end = t_meas + run.seconds
    expect = {}
    rng = random.Random(run.seed)
    from datagen import tick_line
    for t_us in gen_info["due_us"]:
        _line, exp = tick_line(rng, t_us)
        if exp is not None:
            expect[time_key(t_us)] = exp
    seen = check_delivery(run, [p for _, p in pub.frames], expect)
    due = {time_key(t): t / 1e6 for t in gen_info["due_us"]}
    lat, on_time = [], 0
    for key, i in seen.items():
        d = due.get(key)
        if d is not None and t_meas <= d < t_meas_end:
            lat.append((pub.frames[i][0] - d) * 1e3)
            # delivered inside the window; the rest were drained after it
            on_time += pub.frames[i][0] < t_meas_end
    if not lat:
        raise RuntimeError("no live message was due in the timed window")
    run.layer["gen.msgs"] = len(gen_info["due_us"])
    run.layer["gen.late_p99_ms"] = gen_info["late_p99_ms"]
    run.layer["sinks.frames"] = len(pub.frames)
    if run.tracer.enabled:
        _pipeline_layers(run, _progress(query), t_query)
        # the single edge is the whole foreachBatch body
        run.layer["sinks.single.publish_s"] = run.layer.get(
            "pipeline.addBatch_ms", 0) / 1e3
    run.unit_s = median(lat) / 1e3
    return _e2e(on_time / run.seconds, lat, run.meter.cpu - cpu0, len(lat))


# --- query_mix ---------------------------------------------------------------------------

def _mix_names() -> list[tuple[str, str]]:
    import __spark_entry__ as ent
    qs = ent.queries()
    return [(n, qs[n].__module__.rsplit(".", 1)[-1]) for n in sorted(qs)
            if n.split("_")[0] in MIX_QUERIES]


def oracle_digests(data_dir: str, names: list[str]) -> dict:
    """(rows, canon hash) of each query's DuckDB oracle twin."""
    import duckdb

    import __spark_entry__ as ent
    from tools.verify_oracle import canon
    con = duckdb.connect()
    try:
        for f in os.listdir(data_dir):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, f)}'")
        sql = ent.oracle_sql()
        out = {}
        for name in names:
            res = con.execute(sql[name])
            rows = res.fetchall()
            out[name] = (len(rows), canon(rows, [d[0] for d in
                                                 res.description])[0])
        return out
    finally:
        con.close()


def prepare_query_mix(run) -> None:
    import __spark_entry__ as ent
    spark = run.session()
    run.data = run.path("tables")
    write_tables(run.data, run.seed, MIX_SCALE)
    run.names = _mix_names()
    run.expect = oracle_digests(run.data, [n for n, _ in run.names])
    qs = ent.queries()
    # one untimed pass: the timed passes then start with warm code paths
    # but, on fresh copies of the tables, with every memo cold
    with run.warmup():
        d = _fresh_copy(run)
        for name, _mod in run.names:
            qs[name](spark, d).collect()
        shutil.rmtree(d)


def _fresh_copy(run) -> str:
    """Hard links of the tables under a new directory: every memo in
    the program keys on the input path, so each pass starts cold."""
    d = run.path(f"pass{run.next_id()}")
    os.makedirs(d)
    for f in os.listdir(run.data):
        os.link(os.path.join(run.data, f), os.path.join(d, f))
    return d


def measure_query_mix(run) -> dict:
    """Passes over the mix on fresh table copies until the window ends.
    Each query's time is its best pass, as in ``bench.py``: a host stall
    lands in one pass, not in every pass."""
    import __spark_entry__ as ent
    from tools.verify_oracle import canon
    spark = run.spark
    qs = ent.queries()
    best: dict[str, float] = {}
    pass_cpu = []
    counters = SparkCounters(spark) if run.tracer.enabled else None
    # two passes at least, however slow the host: every query's time is
    # then a best of two or more, on every run (a run whose first pass
    # outlasted the window used to report single-pass times), and a
    # traced run's per-pass counters can be compared
    t_end = time.perf_counter() + run.seconds
    while len(pass_cpu) < 2 or time.perf_counter() < t_end:
        if run.tracer.enabled:
            _trace_load_tables(run, spark, _fresh_copy(run))
        d = _fresh_copy(run)
        results, mods, cpu0 = {}, {}, run.meter.cpu
        pass_id = run.next_id()
        for name, mod in run.names:
            # a job group of this pass alone: Spark's counters per group
            # then cover one execution of the query, not all of them
            group = f"{name}@{pass_id}"
            spark.sparkContext.setJobGroup(group, name)
            rows = None
            with run.timed():
                try:
                    with run.tracer.span(f"{mod}.build"):
                        df = qs[name](spark, d)
                    with run.tracer.span(f"{mod}.exec"):
                        rows = [tuple(r) for r in df.collect()]
                except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
                    run.errors.append(f"{name}: {exc!r}"[:300])
            best[name] = min(best.get(name, math.inf), run.last_wall)
            results[name] = (rows, None if rows is None else df.columns)
            if counters is not None:
                _add_module_counters(run, mods, mod, name,
                                     counters.group(group))
        pass_cpu.append(run.meter.cpu - cpu0)
        run.sample_host()
        if counters is not None:
            run.record.setdefault("module_counters_per_pass", []).append(
                mods)
        spark.sparkContext.setJobGroup("untracked", "untracked")
        for name, (rows, cols) in results.items():
            ok = rows is not None and (len(rows), canon(rows, cols)[0]) \
                == tuple(run.expect[name])
            run.count(1, 0 if ok else 1, f"query {name} digest")
        shutil.rmtree(d, ignore_errors=True)
    walls = list(best.values())
    run.unit_s = median(walls)
    if run.tracer.enabled:
        _store_layers(run)
    return _e2e(len(walls) / sum(walls), [w * 1e3 for w in walls],
                min(pass_cpu), len(walls))


def _trace_load_tables(run, spark, d: str) -> None:
    from oanda_stream_processor_spark.io import load_table
    with run.tracer.span("io.load_table"):
        for f in sorted(os.listdir(d)):
            load_table(spark, d, f[:-8])
    run.layer["io.load_table_s"] = run.tracer.durations("io.load_table")[-1]


def _add_module_counters(run, mods: dict, mod: str, name: str,
                         c: dict) -> None:
    """Per-module sums over one pass; the latest pass wins."""
    acc = mods.setdefault(mod, {})
    c = dict(c, build_s=run.tracer.durations(f"{mod}.build")[-1],
             exec_s=run.tracer.durations(f"{mod}.exec")[-1])
    for k, v in c.items():
        acc[k] = acc.get(k, 0) + v
        run.layer[f"{mod}.{k}"] = acc[k]
    run.record.setdefault("queries", {})[name] = c


# --- the served store (measured inside query_mix's traced run) -------------------------

def _store_layers(run) -> None:
    """Land doc-disjoint batches of seeded documents one at a time, ingest
    each with ``start_bm25_stream(availableNow, compact_every)`` up to the
    first fold, and follow each with a served top-k read, checked against
    one-shot q175's oracle twin over the documents landed so far."""
    from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk, start_bm25_stream)
    from oanda_stream_processor_spark.streaming.compact import (
        store_file_count)
    from tools.verify_oracle import canon
    spark = run.spark
    batches = [[] for _ in range(COMPACT_EVERY)]
    for d in documents_rows(run.seed, STORE_DOCS):
        # batch 0 carries the query documents
        i = 0 if d["doc_id"] < N_QUERIES else d["doc_id"] % COMPACT_EVERY
        batches[i].append(d)
    watch, state = run.path("store-in"), run.path("store")
    os.makedirs(watch)
    counters = SparkCounters(spark)
    landed, reads, files = [], [], []
    ingest_s, read_s, fresh_s, batch_s = [], [], [], []
    for i, batch in enumerate(batches):
        t_land = time.perf_counter()
        tmp = run.path(f".batch{i}.json")
        with open(tmp, "w") as f:
            for d in batch:
                f.write(json.dumps({"doc_id": d["doc_id"],
                                    "text": d["text"]}) + "\n")
        os.rename(tmp, os.path.join(watch, f"batch{i:03d}.json"))
        landed.extend(batch)
        t0 = time.perf_counter()
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", "1").json(watch))
        q = start_bm25_stream(stream, state, run.path("store-ckpt"),
                              compact_every=COMPACT_EVERY)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingest failed: {q.exception()}")
        batch_s += [p["durationMs"]["addBatch"] / 1e3 for p in _progress(q)
                    if p["numInputRows"] > 0]
        t1 = time.perf_counter()
        spark.sparkContext.setJobGroup(f"serve{i}", "serve")
        df = serve_bm25_topk(spark, state)
        rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
        spark.sparkContext.setJobGroup("untracked", "untracked")
        files.append(store_file_count(state))
        reads.append(((len(rows), canon(rows, df.columns)[0]), len(landed)))
        ingest_s.append(t1 - t0)
        read_s.append(t2 - t1)
        fresh_s.append(t2 - t_land)
    g = counters.group(f"serve{len(batches) - 1}")
    for got, n in reads:
        run.count(1, 0 if got == _q175_digest(run, landed[:n]) else 1,
                  "served read digest")
    lay = run.layer
    lay["serve.read_jobs"] = g["jobs"]
    lay["serve.read_shuffle_bytes"] = g["shuffle_bytes"]
    lay["serve.read_s_p50"] = median(read_s)
    lay["store.ingest_docs_per_s"] = len(landed) / sum(ingest_s)
    lay["store.fresh_p50_s"] = median(fresh_s)
    lay["compact.store_files_max"] = max(files)
    lay["compact.store_files_end"] = files[-1]
    # batch 0 is cold; the last batch is the one that folds the store
    plain = median(batch_s[1:-1])
    lay["bm25gate.ingest_batch_s_p50"] = plain
    lay["compact.fold_batch_s_p50"] = batch_s[-1] - plain


def _q175_digest(run, docs: list[dict]) -> tuple:
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = run.path(f"prefix{len(docs)}")
    os.makedirs(d)
    pq.write_table(pa.table({
        "doc_id": pa.array([x["doc_id"] for x in docs], pa.int64()),
        "text": [x["text"] for x in docs],
        "lang": [x["lang"] for x in docs],
        "source": [x["source"] for x in docs],
        "n_chars": pa.array([x["n_chars"] for x in docs], pa.int64())}),
        os.path.join(d, "documents.parquet"))
    return oracle_digests(d, ["q175_bm25_topk"])["q175_bm25_topk"]


WORKLOADS = {
    "tick_replay": (prepare_tick_replay, measure_tick_replay),
    "tick_live": (prepare_tick_live, measure_tick_live),
    "query_mix": (prepare_query_mix, measure_query_mix),
}
