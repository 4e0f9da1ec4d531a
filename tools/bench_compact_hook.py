"""Re-measure the COMPACT row THROUGH the r18 ingest hook (VERDICT
r17 Next-round #3's "Done" criterion): the measured small-files saving
must materialize when compaction is driven by ``start_bm25_stream(...,
compact_every=K)`` itself, not by a hand call to compact_*.

Two stores are built from the SAME N-batch availableNow ingest (one
json file per micro-batch, maxFilesPerTrigger=1):

* plain — start_bm25_stream with the default (compact_every off): one
  batch_id=<id> directory per micro-batch per layout, the pre-r18
  steady state of a long-lived ingest;
* hooked — start_bm25_stream(compact_every=K): the foreachBatch body
  folds the store (and its co-located truth/ store) every K batches.

A truth store is co-located under <bm25>/truth on BOTH sides (written
per batch with the same splits, before the bm25 stream so the hook
never folds concurrently with the truth writer) so the hook's
co-location folding is on the measured path.  Reads measured
min-of-RUNS on both stores: the gated BM25 top-k and the store-graded
quality read.  Rows asserted identical plain vs hooked.  Prints one
JSON line.

Usage: python tools/bench_compact_hook.py [sf_dir] [n_batches] [K] [runs]
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 24
EVERY = int(sys.argv[3]) if len(sys.argv) > 3 else 8
RUNS = int(sys.argv[4]) if len(sys.argv) > 4 else 3
ROOT = "/tmp/spark_graft_compact_hook"


def main() -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
        start_bm25_stream,
    )
    from oanda_stream_processor_spark.streaming.compact import (
        store_file_count,
    )
    from oanda_stream_processor_spark.streaming.truthgate import (
        serve_quality_from_truth_store,
        write_batch_truth_partials,
    )

    spark = get_spark(app_name="bench_compact_hook")
    shutil.rmtree(ROOT, ignore_errors=True)
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nb = N_BATCHES

    def split(i):
        if i == 0:
            return d.where((F.col("doc_id") < N_QUERIES)
                           | (F.col("doc_id") % nb == 0))
        return d.where((F.col("doc_id") >= N_QUERIES)
                       & (F.col("doc_id") % nb == i))

    # one json file per micro-batch, written in order (file mtime =
    # trigger order under maxFilesPerTrigger=1)
    for i in range(nb):
        split(i).coalesce(1).write.mode("overwrite").json(
            f"{ROOT}/src/f{i:03d}")

    def stream():
        return (spark.readStream
                .schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .json(f"{ROOT}/src/*"))

    def ingest(tag: str, every: int | None) -> tuple[str, float]:
        b = f"{ROOT}/{tag}"
        # truth co-located FIRST (sequential writers; the bm25 hook
        # folds <b>/truth as part of the same unit)
        for i in range(nb):
            write_batch_truth_partials(split(i), f"{b}/truth", i)
        t0 = time.perf_counter()
        q = start_bm25_stream(stream(), b, f"{b}_ckpt",
                              compact_every=every)
        q.awaitTermination(600)
        return b, round(time.perf_counter() - t0, 3)

    plain, plain_ingest_s = ingest("plain", None)
    hooked, hooked_ingest_s = ingest("hooked", EVERY)

    def table(df):
        return sorted(map(tuple, df.collect()))

    def best(fn) -> float:
        out = float("inf")
        for _ in range(RUNS):
            tt = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            out = min(out, time.perf_counter() - tt)
        return round(out, 3)

    reads = {
        "bm25": lambda s: serve_bm25_topk(spark, s),
        "quality": lambda s: serve_quality_from_truth_store(
            spark, f"{s}/truth", s),
    }
    rows_equal = all(
        table(fn(plain)) == table(fn(hooked)) for fn in reads.values())
    assert rows_equal, "hooked store serves different rows"

    out = {
        "metric": "store_compaction_via_ingest_hook",
        "sf_dir": SF_DIR, "n_batches": nb, "compact_every": EVERY,
        "runs": RUNS,
        "ingest_s": {"plain": plain_ingest_s,
                     "hooked": hooked_ingest_s},
        "files": {"plain": store_file_count(plain),
                  "hooked": store_file_count(hooked)},
        "bm25_read_s": {"plain": best(lambda: reads["bm25"](plain)),
                        "hooked": best(lambda: reads["bm25"](hooked))},
        "quality_read_s": {
            "plain": best(lambda: reads["quality"](plain)),
            "hooked": best(lambda: reads["quality"](hooked))},
        "rows_equal": rows_equal,
        "note": ("same availableNow ingest, compaction driven by the "
                 "foreachBatch hook every K batches (co-located truth "
                 "folded as the same unit); reads min-of-RUNS; hooked "
                 "ingest time INCLUDES the folds"),
    }
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
