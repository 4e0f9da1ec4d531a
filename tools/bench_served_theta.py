"""Measure the seed-pass saving of the folded histogram θ (r15; r14
verdict ask #3's "bench row").

Builds the incremental BM25 store (all six partials, including the
lockstep impact histogram) from the sf documents table, then times the
PRUNED served read with the two θ sources the fold now routes
between:

* theta='seed' — the pre-r15 read: a read-time seed CANDIDATE SCORING
  pass (join seed postings, score, rank) derives θ;
* theta='hist' — the folded read: θ priced from the persisted impact
  histogram (bounded arithmetic over the merged sketch), no candidate
  scoring before the single exact scoring pass.

Both branches are forced onto the pruned term route (plan='term') so
the measurement isolates the θ-derivation difference — on a
flat-routed corpus the gate would take neither.  Rows are asserted identical before timing
(the exactness contract).  Prints one JSON line.

Usage: python tools/bench_served_theta.py [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
STORE = "/tmp/spark_graft_theta_store"


def main() -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
        write_batch_partials,
    )

    spark = get_spark(app_name="bench_served_theta")
    shutil.rmtree(STORE, ignore_errors=True)
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    t0 = time.perf_counter()
    for i in range(4):
        write_batch_partials(d.where(F.col("doc_id") % 4 == i), STORE, i)
    build_s = round(time.perf_counter() - t0, 3)

    def run(theta: str) -> float:
        best = float("inf")
        for _ in range(RUNS):
            t = time.perf_counter()
            (serve_bm25_topk(spark, STORE, plan="term", theta=theta)
             .write.format("noop").mode("overwrite").save())
            best = min(best, time.perf_counter() - t)
        return round(best, 3)

    same = (sorted(map(tuple, serve_bm25_topk(
                spark, STORE, plan="term", theta="hist").collect()))
            == sorted(map(tuple, serve_bm25_topk(
                spark, STORE, plan="term", theta="seed").collect())))
    assert same, "hist and seed reads diverged — fold is broken"
    seed_s, hist_s = run("seed"), run("hist")
    print(json.dumps({
        "metric": "served_theta_fold", "sf_dir": SF_DIR, "runs": RUNS,
        "store_build_s": build_s, "rows_equal": same,
        "pruned_seed_theta_s": seed_s, "pruned_hist_theta_s": hist_s,
        "saving_s": round(seed_s - hist_s, 3),
        "note": ("both branches forced pruned; the delta is the "
                 "read-time seed candidate-scoring pass the persisted "
                 "histogram replaces")}))
    spark.stop()
    shutil.rmtree(STORE, ignore_errors=True)


if __name__ == "__main__":
    main()
