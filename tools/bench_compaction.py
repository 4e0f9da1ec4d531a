"""Measure store-partial compaction (r17; VERDICT r16 Next-round #2's
"file-count + read-time row on a many-batch store").

Builds a many-batch BM25 store (tf/df/dl/corpus/blk/impact) with a
co-located truth store from the sf documents table under the
query-docs-first contract, then times the served reads against the
SAME store before and after compact_bm25_store folds the batch_id=*
partials into consolidated generations:

* bm25   — bm25gate.serve_bm25_topk (the gated read; θ from the
  lockstep histogram where it engages);
* quality — truthgate.serve_quality_from_truth_store (q185's metric
  rows off the compacted truth partials + the BM25 store).

Rows are asserted identical before/after (compaction changes the file
layout, never the merged relation — the pytest theorem at bench
scale).  Reports data-file counts, fold summary, compaction cost and
min-of-runs read times.  Prints one JSON line.

Usage: python tools/bench_compaction.py [sf_dir] [n_batches] [runs]
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
RUNS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
ROOT = "/tmp/spark_graft_compact"


def main() -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.operators.retrieval import (
        N_QUERIES,
    )
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
        write_batch_partials,
    )
    from oanda_stream_processor_spark.streaming.compact import (
        compact_bm25_store,
        store_file_count,
    )
    from oanda_stream_processor_spark.streaming.truthgate import (
        serve_quality_from_truth_store,
        write_batch_truth_partials,
    )

    spark = get_spark(app_name="bench_compaction")
    shutil.rmtree(ROOT, ignore_errors=True)
    b = f"{ROOT}/bm25"
    t = f"{b}/truth"
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nb = N_BATCHES
    t0 = time.perf_counter()
    for i in range(nb):
        # queries-first contract: batch 0 carries every query doc
        if i == 0:
            part = d.where((F.col("doc_id") < N_QUERIES)
                           | (F.col("doc_id") % nb == 0))
        else:
            part = d.where((F.col("doc_id") >= N_QUERIES)
                           & (F.col("doc_id") % nb == i))
        write_batch_partials(part, b, i)
        write_batch_truth_partials(part, t, i)
    build_s = round(time.perf_counter() - t0, 3)

    reads = {
        "bm25": lambda: serve_bm25_topk(spark, b),
        "quality": lambda: serve_quality_from_truth_store(spark, t, b),
    }

    def table(df):
        return sorted(map(tuple, df.collect()))

    def best(fn) -> float:
        out = float("inf")
        for _ in range(RUNS):
            tt = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            out = min(out, time.perf_counter() - tt)
        return round(out, 3)

    want = {k: table(fn()) for k, fn in reads.items()}
    pre = {k: best(fn) for k, fn in reads.items()}
    files_pre = store_file_count(b)

    t0 = time.perf_counter()
    fold = compact_bm25_store(spark, b)
    compact_s = round(time.perf_counter() - t0, 3)

    for k, fn in reads.items():
        assert table(fn()) == want[k], f"{k}: compaction changed rows"
    post = {k: best(fn) for k, fn in reads.items()}
    files_post = store_file_count(b)

    out = {"metric": "store_compaction", "sf_dir": SF_DIR,
           "n_batches": nb, "runs": RUNS, "store_build_s": build_s,
           "files_before": files_pre, "files_after": files_post,
           "folded_batches": len(fold.get("folded", [])),
           "compact_s": compact_s,
           "bm25_read_before_s": pre["bm25"],
           "bm25_read_after_s": post["bm25"],
           "quality_read_before_s": pre["quality"],
           "quality_read_after_s": post["quality"],
           "rows_equal": True,
           "note": ("same store, same reads, rows asserted identical; "
                    "compaction folds all-but-the-newest batch "
                    "partitions into one generation per layout")}
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
