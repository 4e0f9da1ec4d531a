"""Streaming-pipeline throughput: generate an N-line synthetic tick
capture, run the full parse→route→derive→encode→publish pipeline
(file-replay source), report msgs/sec end-to-end.

Two publisher edges:
* single      — driver-side FilePublisher (reference parity: one PUB
                socket); throughput capped at one socket's rate.
* partitioned — a publisher per partition, opened executor-side
                (the Kafka-shaped fan-out edge).

The reference's implicit input rate is O(1-100) msg/s on one socket
(BASELINE.md). Usage:
    python tools/throughput_bench.py [n_lines] [single|partitioned|both]
"""

from __future__ import annotations

import glob
import json
import random
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
MODE = sys.argv[2] if len(sys.argv) > 2 else "both"
INSTRUMENTS = ["EUR_USD", "USD_JPY", "GBP_USD", "AUD_USD"]


def make_capture(path: str, n: int) -> None:
    rng = random.Random(42)
    with open(path, "w") as f:
        for i in range(n):
            if i % 100 == 99:
                f.write('{"type":"HEARTBEAT","time":"2026-08-13T%02d:%02d:%02d.000000000Z"}\n'
                        % (9 + i // 360000, (i // 6000) % 60, (i // 100) % 60))
                continue
            inst = INSTRUMENTS[i % len(INSTRUMENTS)]
            bid = round(1.0 + rng.random() / 10, 5)
            ask = round(bid + rng.random() / 1000, 5)
            f.write(json.dumps({
                "type": "PRICE",
                "time": "2026-08-13T%02d:%02d:%02d.%06d000Z"
                        % (9 + i // 360000, (i // 6000) % 60, (i // 100) % 60, i % 1000000),
                "instrument": inst, "status": "tradeable",
                "closeoutBid": f"{bid:.5f}", "closeoutAsk": f"{ask:.5f}",
                "bids": [{"price": f"{bid:.5f}", "liquidity": 1000000}],
                "asks": [{"price": f"{ask:.5f}", "liquidity": 1000000}],
            }) + "\n")


def _count_frames(paths: list[str]) -> int:
    frames = 0
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        i = 0
        while i < len(data):
            ln = int.from_bytes(data[i:i + 4], "big")
            i += 4 + ln
            frames += 1
    return frames


def _run(spark, capture: str, td: str, mode: str) -> dict:
    from oanda_stream_processor_spark.streaming.pipeline import run_pipeline
    from oanda_stream_processor_spark.streaming.sinks import (
        FilePublisher, PartitionedFilePublisherFactory)

    if mode == "single":
        kw = {"publisher": FilePublisher(f"{td}/single.bin")}
        out_paths = lambda: [f"{td}/single.bin"]  # noqa: E731
    else:
        kw = {"publisher_factory":
              PartitionedFilePublisherFactory(f"{td}/part.bin")}
        out_paths = lambda: glob.glob(f"{td}/part.bin.*")  # noqa: E731
    t0 = time.perf_counter()
    handles = run_pipeline(spark, capture,
                           checkpoint_dir=f"{td}/ckpt-{mode}", **kw)
    handles.process_all_available()
    handles.stop()
    dt = time.perf_counter() - t0
    frames = _count_frames(out_paths())
    assert frames == N, (mode, frames, N)
    return {"mode": mode, "msgs_per_sec": round(N / dt, 1),
            "published_frames": frames, "wall_sec": round(dt, 2)}


def main() -> None:
    from oanda_stream_processor_spark.session import get_spark

    with tempfile.TemporaryDirectory() as td:
        capture = f"{td}/capture.ndjson"
        make_capture(capture, N)
        spark = get_spark(app_name="throughput_bench")
        modes = ["single", "partitioned"] if MODE == "both" else [MODE]
        # timings exclude process startup (bench policy): one small warmup
        # round spawns the JVM codegen paths and the Python worker pool
        warm = f"{td}/warm.ndjson"
        make_capture(warm, 2000)
        with tempfile.TemporaryDirectory() as wtd:
            for m in modes:
                _run_capture = warm  # noqa: F841
                from oanda_stream_processor_spark.streaming.pipeline import (
                    run_pipeline)
                from oanda_stream_processor_spark.streaming.sinks import (
                    FilePublisher, PartitionedFilePublisherFactory)
                kw = ({"publisher": FilePublisher(f"{wtd}/w-{m}.bin")}
                      if m == "single" else
                      {"publisher_factory":
                       PartitionedFilePublisherFactory(f"{wtd}/w-{m}.bin")})
                h = run_pipeline(spark, warm, checkpoint_dir=f"{wtd}/ck-{m}",
                                 **kw)
                h.process_all_available()
                h.stop()
        results = [_run(spark, capture, td, m) for m in modes]
        print(json.dumps({
            "metric": "pipeline_throughput",
            "value": results[-1]["msgs_per_sec"],
            "unit": "msgs/sec",
            "n_messages": N,
            "runs": results,
        }))
        spark.stop()


if __name__ == "__main__":
    main()
