"""Measure the store write codec: snappy (Spark default) vs zstd
(guide §6 — "smaller than snappy at similar read speed") on the
repo's OWN write path, the incremental BM25 store partials.

Builds the same N-batch BM25 store twice from the sf documents table
— once with each `spark.sql.parquet.compression.codec` (a runtime
SQL conf; reads are codec-transparent) — and reports, per codec:
store bytes on disk, data-file count (identical by construction),
build wall-clock, and the min-of-runs served read
(bm25gate.serve_bm25_topk, noop sink).  Rows are asserted identical
across codecs after the timed reads (a divergence exits non-zero).
Prints one JSON line.

The INPUT fixtures under /root/testdata are never rewritten; only
the /tmp store this tool builds.  Usage:
python tools/bench_store_codec.py [sf_dir] [n_batches] [runs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 12
RUNS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
ROOT = "/tmp/spark_graft_store_codec"


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _files(path: str) -> int:
    n = 0
    for _dirpath, _dirnames, filenames in os.walk(path):
        n += sum(1 for f in filenames
                 if f.endswith(".parquet") or f.endswith(".snappy.parquet")
                 or f.endswith(".zstd.parquet"))
    return n


def main() -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
        write_batch_partials,
    )

    spark = get_spark(app_name="bench_store_codec")
    session_codec = spark.conf.get("spark.sql.parquet.compression.codec")
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out: dict = {"metric": "store_write_codec", "sf_dir": SF_DIR,
                 "n_batches": N_BATCHES, "runs": RUNS}
    rows_by_codec = {}

    # warmup build off the clock: the first store build in a process
    # pays codegen/JIT for the whole partial-writer pipeline, which
    # would otherwise be charged entirely to whichever codec runs
    # first (measured ~13 s of the first leg's ~50 s)
    warm = f"{ROOT}/warmup"
    shutil.rmtree(warm, ignore_errors=True)
    for i in range(2):
        write_batch_partials(d.where(F.col("doc_id") % 60 == i), warm, i)

    for codec in ("snappy", "zstd"):
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
        store = f"{ROOT}/{codec}"
        shutil.rmtree(store, ignore_errors=True)
        t0 = time.perf_counter()
        for i in range(N_BATCHES):
            # queries-first contract: batch 0 carries every query doc
            if i == 0:
                part = d.where((F.col("doc_id") < N_QUERIES)
                               | (F.col("doc_id") % N_BATCHES == 0))
            else:
                part = d.where((F.col("doc_id") >= N_QUERIES)
                               & (F.col("doc_id") % N_BATCHES == i))
            write_batch_partials(part, store, i)
        build_s = round(time.perf_counter() - t0, 3)

        best = float("inf")
        for _ in range(RUNS):
            t = time.perf_counter()
            (serve_bm25_topk(spark, store)
             .write.format("noop").mode("overwrite").save())
            best = min(best, time.perf_counter() - t)
        rows_by_codec[codec] = sorted(
            map(tuple, serve_bm25_topk(spark, store).collect()))
        out[codec] = {"bytes": _du(store), "files": _files(store),
                      "build_s": build_s, "read_s": round(best, 3)}

    spark.conf.set("spark.sql.parquet.compression.codec",
                   session_codec)
    out["rows_equal"] = rows_by_codec["snappy"] == rows_by_codec["zstd"]
    # r18 (ADVICE r17): the docstring's identity claim is now enforced,
    # not merely reported — a divergence exits non-zero
    assert out["rows_equal"], "served rows diverged across codecs"
    out["bytes_ratio_zstd_vs_snappy"] = round(
        out["zstd"]["bytes"] / out["snappy"]["bytes"], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
