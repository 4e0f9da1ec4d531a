"""The repository's benchmark: one workload per process.

    python3 perfbench/run.py --workload tick_replay --seed 1 \\
        --seconds 10 --trace 0

Workloads (``workloads.py``): ``tick_replay``, ``tick_live`` and
``query_mix``. The last line printed is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones. Lines before it name each
metric in the workload's own terms and hold the run record (pinned
environment, host-noise witness, spans, counters). The closed-loop
workloads report their end-to-end figures at a reference host speed
(see ``YARDSTICK_REF_S``); the record keeps the raw ones.

All state lives under one temp root inside the checkout, removed at the
end; the run fails if anything outside that root changed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager  # noqa: E402

from harness import (CPUS, REPO, Meter, PeakRss, Tracer,  # noqa: E402
                     adopt_orphans, median, pin_environment, proc_stat,
                     stop_descendants, stray_writes, tree_snapshot,
                     yardstick)

DRIVER_MEM = "2g"
RUN_LIMIT_S = 170   # a run that hangs fails here, before an outer kill


def _overtime(signum, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s (signal {signum})")


END_TO_END = {
    "setup_s": "s", "items_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "cpu_ms_per_item": "ms",
}

# The closed-loop workloads run as fast as the host lets them, and on a
# shared 4-vCPU VM the host's speed was seen to move by up to 2x within
# minutes (steal under 1%: the cores themselves slowed), as much as a
# program change would.
# Their end-to-end times are therefore reported at a reference host
# speed: each is scaled by the ratio of YARDSTICK_REF_S to the median of
# the run's yardstick samples (harness.yardstick, a memory-copy task
# that does not touch the program, timed while Spark is idle: after
# set-up, after each timed unit and at the end). YARDSTICK_REF_S is its
# typical time on the 4-vCPU VM the bounds were set on. The open-loop
# tick_live runs at the generator's fixed rate and is reported as
# measured. The raw figures stay in the run record.
YARDSTICK_REF_S = 0.085
HOST_SCALED = {"tick_replay", "query_mix"}


def at_reference_speed(e2e: dict, speed: float) -> dict:
    """End-to-end figures measured on a host running at ``speed`` times
    the reference speed, restated at the reference speed."""
    return {k: v / speed if k == "items_per_s" else v * speed
            for k, v in e2e.items()}


# What each generic end-to-end name means on each workload.
MEANING = {
    "tick_replay": {"items_per_s": "replay_msgs_per_s",
                    "latency_p50_ms": "replay_wall_p50_ms",
                    "latency_p90_ms": "replay_wall_max_ms",
                    "cpu_ms_per_item": "replay_cpu_ms_per_msg"},
    "tick_live": {"items_per_s": "live_delivered_msgs_per_s",
                  "latency_p50_ms": "live_latency_p50_ms",
                  "latency_p90_ms": "live_latency_p90_ms",
                  "cpu_ms_per_item": "live_cpu_ms_per_msg"},
    "query_mix": {"items_per_s": "mix_queries_per_s",
                  "latency_p50_ms": "mix_query_p50_ms",
                  "latency_p90_ms": "mix_query_max_ms",
                  "cpu_ms_per_item": "mix_cpu_ms_per_query"},
}

_OPERATOR_UNITS = {"build_s": "s", "exec_s": "s", "jobs": "count",
                   "tasks": "count", "executor_cpu_s": "s", "gc_s": "s",
                   "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                   "py_run_ms": "ms"}
OPERATOR_MODULES = ("relational", "asof", "scalar", "dedup", "similarity",
                    "textops", "retrieval", "curation")

# Per-layer metrics of the traced run, grouped by the program layer they
# time; a layer a workload does not touch reads 0. The comment after
# each group names the end-to-end metric it should move, and where.
PER_LAYER = {
    # session: setup_s on every workload
    "session.get_spark_s": "s", "session.warmup_s": "s",
    # sources, functions.ticks: tick_replay throughput and CPU; not
    # tick_live latency, where per-row work is a small share of a batch.
    # Self time = the batch ladder's prefix time minus the previous one.
    "sources.read_tick_lines_s": "s", "sources.input_bytes": "bytes",
    "ticks.route.self_s": "s", "ticks.derive.self_s": "s",
    "ticks.rows.price_tick": "count", "ticks.rows.heartbeat": "count",
    "ticks.rows.unknown": "count", "ticks.rows.dropped": "count",
    # streaming.encode, proto.wire: run time moves tick_replay; worker
    # start and init per batch move tick_live latency
    "encode.self_s": "s", "encode.py_start_ms": "ms",
    "encode.py_init_ms": "ms", "encode.py_run_ms": "ms",
    "encode.arrow_bytes_sent": "bytes",
    "encode.arrow_bytes_returned": "bytes",
    "wire.encode_us_per_msg": "us",
    # streaming.sinks: the partitioned edge (ladder self time) moves
    # tick_replay, the single edge (median foreachBatch time of a live
    # micro-batch, from recentProgress) tick_live
    "sinks.partitioned.publish_s": "s", "sinks.single.publish_s": "s",
    "sinks.frames": "count",
    # streaming.pipeline, from StreamingQuery.recentProgress (medians
    # over batches with input): tick_live latency and CPU; tick_replay
    # runs about one batch
    "pipeline.batches": "count", "pipeline.rows_per_batch_p50": "count",
    "pipeline.first_batch_ms": "ms",
    **{f"pipeline.{ph}_ms": "ms" for ph in (
        "triggerExecution", "addBatch", "latestOffset", "getBatch",
        "queryPlanning", "walCommit", "commitOffsets")},
    # the benchmark's own load generator: whether it ran late
    "gen.late_p99_ms": "ms", "gen.msgs": "count",
    # peak RSS of this process, the JVM and the Python workers; the JVM's
    # share depends on when its collector runs, too unsteady for a bound
    "host.peak_rss_mb": "MB",
    # io and the operator modules (query_mix, sums over the last pass;
    # counts from Spark's REST API per job group): query_mix throughput
    # and CPU, retrieval also the store's served read; not the ticks
    "io.load_table_s": "s",
    **{f"{m}.{k}": u for m in OPERATOR_MODULES
       for k, u in _OPERATOR_UNITS.items()},
    # streaming.bm25gate, streaming.compact and the served read, from the
    # store phase of query_mix's traced run (foreachBatch seconds from
    # recentProgress; the fold is the folding batch minus a plain one):
    # ingest cost against served-read time
    "bm25gate.ingest_batch_s_p50": "s", "compact.fold_batch_s_p50": "s",
    "compact.store_files_max": "count", "compact.store_files_end": "count",
    "serve.read_jobs": "count", "serve.read_shuffle_bytes": "bytes",
    "serve.read_s_p50": "s", "store.ingest_docs_per_s": "1/s",
    "store.fresh_p50_s": "s",
    # tracing itself: traced minus untraced timed unit in one process;
    # on tick_replay, the streaming replay's wall not covered by the
    # ladder's self times
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
}


class Run:
    """One workload run: its temp root, session, timers and tallies."""

    def __init__(self, workload: str, seed: int, seconds: int,
                 trace: bool, root: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.root = root
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.meter = Meter()
        self.layer: dict = {}
        self.record: dict = {}
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.spark = None
        self.t_first: float | None = None
        self.last_wall = 0.0
        self.unit_s = 0.0   # wall of the workload's timed unit (median)
        self.host_samples: list[float] = []
        self._ids = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, "work", *parts)

    def next_id(self) -> int:
        self._ids += 1
        return self._ids

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.errors.append(f"{what}: {failed} of {attempted} failed")

    def session(self):
        from oanda_stream_processor_spark.session import get_spark
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{CPUS}]")
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        return self.spark

    def sample_host(self) -> None:
        """Time the host yardstick; call only while Spark is idle."""
        self.host_samples.append(yardstick())

    @contextmanager
    def warmup(self):
        t0 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            yield
        self.layer["session.warmup_s"] = time.perf_counter() - t0

    @contextmanager
    def timed(self):
        t0 = time.perf_counter()
        if self.t_first is None:
            self.t_first = t0
        with self.meter.window():
            yield
        self.last_wall = time.perf_counter() - t0


def environment_record(spark, env: dict) -> dict:
    import pyspark
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "spark_version": spark.version, "pyspark_version":
        pyspark.__version__, "python_version": platform.python_version(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT": {k: v for k, v in sorted(os.environ.items())
                        if k.startswith("SPARK_GRAFT_")},
        "exported": env,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "oanda_stream_processor_spark",
                                       "__init__.py")):
        print(f"perfbench: no program source under {REPO}", file=sys.stderr)
        return 2
    import workloads
    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    prepare, measure = workloads.WORKLOADS[a.workload]
    adopt_orphans()
    signal.signal(signal.SIGALRM, _overtime)
    signal.alarm(RUN_LIMIT_S)

    tmp_parent = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    before = tree_snapshot(REPO, tmp_parent)
    sys_tmp = tempfile.gettempdir()   # read before TMPDIR is pinned
    tmp_before = set(os.listdir(sys_tmp))
    root = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=tmp_parent)
    env = pin_environment(root, CPUS, DRIVER_MEM)
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), root)
    rss = PeakRss().start()
    busy0, steal0 = proc_stat()
    try:
        prepare(run)
        run.sample_host()
        if a.trace:
            run.tracer.enabled = False
            measure(run)
            untraced_unit_s = run.unit_s
            run.tracer.enabled = True
            with run.tracer.span("measure"):
                e2e = measure(run)
            run.layer["trace.overhead_s"] = run.unit_s - untraced_unit_s
        else:
            e2e = measure(run)
        run.sample_host()
        from bench import _floor_calibration
        floor_s = _floor_calibration(run.spark)
        run.record["environment"] = environment_record(run.spark, env)
    finally:
        signal.alarm(0)
        rss.stop()
        try:
            if run.spark is not None:
                run.spark.stop()
        finally:
            # the JVM and its Python workers end before this process does
            left = stop_descendants()
        if left:
            run.errors.append(f"processes still running: {left}")
        run.record["gate_sidecars"] = [
            os.path.relpath(p, root) for p in glob.glob(
                os.path.join(root, "**", ".gate_memo.json"), recursive=True)]
        shutil.rmtree(root, ignore_errors=True)
        if not os.listdir(tmp_parent):
            os.rmdir(tmp_parent)
    busy1, steal1 = proc_stat()
    stray = stray_writes(before, tree_snapshot(REPO, tmp_parent))
    if stray:
        run.errors.append(f"wrote outside the run's root: {stray[:10]}")
    # other processes share the system temp dir: recorded, not failed
    run.record["new_in_system_tmp"] = sorted(
        set(os.listdir(sys_tmp)) - tmp_before)

    e2e["setup_s"] = run.t_first - T_PROCESS
    speed = YARDSTICK_REF_S / median(run.host_samples)
    run.record["end_to_end_raw"] = dict(e2e)
    run.record["host_speed"] = speed
    if a.workload in HOST_SCALED:
        e2e = at_reference_speed(e2e, speed)
    run.layer["host.peak_rss_mb"] = rss.peak / 2 ** 20
    run.record.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "errors": run.errors,
        "host": {"timed_wall_s": run.meter.wall,
                 "timed_machine_cpu_s": run.meter.cpu,
                 "timed_steal_s": run.meter.steal,
                 "run_machine_cpu_s": busy1 - busy0,
                 "run_steal_s": steal1 - steal0,
                 "floor_calibration_s": floor_s,
                 "yardstick_s": run.host_samples,
                 "floor_plan": "range(1e6) -> sum -> noop, min of 5"},
        "spans": run.tracer.spans,
    })
    if a.workload in HOST_SCALED:
        print(f"host ran at {speed:.3g}x the reference speed; the figures "
              "below are restated at the reference speed")
    for name, alias in MEANING[a.workload].items():
        print(f"{alias} = {e2e[name]:.6g} ({name}, "
              f"{END_TO_END[name]})")
    print(f"setup_s = {e2e['setup_s']:.6g} s; peak_rss_mb = "
          f"{run.layer['host.peak_rss_mb']:.6g} MB; failed_ops_ratio = "
          f"{run.failed / max(1, run.attempted):.6g}")
    print(json.dumps({"record": run.record}, default=str))
    if a.trace:
        values = {k: run.layer.get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {k: e2e[k] for k in END_TO_END}
        units = END_TO_END
    correct = run.failed == 0 and not run.errors
    print(json.dumps({
        "correct": correct, "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
